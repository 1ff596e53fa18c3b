package graft

import graft.functions.{CentroidScores, CountMinSketch, DotProduct, DotProductInt8, MinHashSketch, NearestCentroid, QuantizeInt8, WordShingles, ZOrderKey}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql` users get them
  * without touching the Scala Column API:
  *
  *   spark.sql("SELECT dot_product(a.v, b.v) FROM ...")
  *   spark.sql("SELECT word_shingles(split(text, ' '), 3) FROM docs")
  *
  * and injects the plan rules:
  *  - [[graft.plans.DivRangePushdown]] (optimizer): derived-time-unit key
  *    predicates become parquet-pushable raw bounds;
  *  - [[graft.plans.GlobalWindowSplit]] (optimizer): a Window node
  *    mixing window families splits into one node per family;
  *  - [[graft.plans.GlobalWindowStrategy]] (planner): the one strategy
  *    for the window rescues, which plans a global or PARTITION BY
  *    Window node as the exec of the first family in its table that
  *    claims every expression (ranking, lag/lead, lag/lead IGNORE NULLS,
  *    running, suffix, sliding ROWS, whole-table, RANGE-interval and
  *    nth_value frames);
  *  - [[graft.plans.GlobalWindowFallback]] (post-planner): warns about
  *    and counts every global window left on a single-task WindowExec;
  *  - [[graft.plans.MergeScanStrategy]] (planner): an ascending global
  *    sort on a salted store's key, over a range that fits one task,
  *    plans as the k-way merge of its key-sorted files, with no sample,
  *    exchange or sort.
  *
  * Activate with
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * or programmatically via `SparkSession.builder.withExtensions(new
  * GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotProduct)
    ext.injectFunction(GraftExtensions.wordShingles)
    ext.injectFunction(GraftExtensions.minhashSketch)
    ext.injectFunction(GraftExtensions.cmsGrid)
    ext.injectFunction(GraftExtensions.quantizeInt8)
    ext.injectFunction(GraftExtensions.dotInt8)
    ext.injectFunction(GraftExtensions.zorderKey)
    ext.injectFunction(GraftExtensions.nearestCentroid)
    ext.injectFunction(GraftExtensions.centroidScores)
    ext.injectFunction(GraftExtensions.hash31)
    ext.injectFunction(GraftExtensions.hash31Bucket)
    ext.injectFunction(GraftExtensions.saltedKey)
    ext.injectFunction(GraftExtensions.originalKey)
    ext.injectOptimizerRule(_ => graft.plans.DivRangePushdown)
    // split mixed-family Window nodes (running + suffix + rank over one
    // ORDER BY land in one node) so each family reaches its rescue
    // instead of dragging the node to a single task
    ext.injectOptimizerRule(_ => graft.plans.GlobalWindowSplit)
    // the window rescues: one strategy over the ordered family table
    // (range exchange, per-partition edge summary, driver stitch,
    // per-partition pass) in place of stock Spark's single-task
    // global WindowExec and hot-key-bound PARTITION BY WindowExec
    ext.injectPlannerStrategy(_ => graft.plans.GlobalWindowStrategy)
    // loud fallback: any global Window shape NO family claimed still
    // plans the single-task built-in — warn + count at plan time, so
    // the one-task-stage-at-100TB failure mode is visible in the logs
    // before it hangs a cluster
    ext.injectQueryPostPlannerStrategyRule(_ => graft.plans.GlobalWindowFallback)
    // the paper's ordered scan: merge the store's sorted files in place
    // of a range exchange and sort
    ext.injectPlannerStrategy(_ => graft.plans.MergeScanStrategy)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  val dotProduct: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_product"),
    info("dot_product",
      "dot_product(a, b) - Sequential-fold dot product of two array<double> vectors."),
    { args =>
      require(args.length == 2, s"dot_product expects 2 arguments, got ${args.length}")
      DotProduct(args(0), args(1))
    })

  val wordShingles: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_shingles"),
    info("word_shingles",
      "word_shingles(tokens, n) - Generator emitting (pos, s) for every n-token shingle."),
    { args =>
      require(args.length == 2, s"word_shingles expects 2 arguments, got ${args.length}")
      val n = args(1) match {
        case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
        case other => throw new IllegalArgumentException(
          s"word_shingles width must be a literal, got $other")
      }
      WordShingles(args(0), n)
    })

  val minhashSketch: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sketch"),
    info("minhash_sketch",
      "minhash_sketch(x) - Aggregate: K-permutation MinHash signature (array<bigint>) over a BIGINT base-hash column."),
    { args =>
      require(args.length == 1, s"minhash_sketch expects 1 argument, got ${args.length}")
      MinHashSketch(args(0)).toAggregateExpression()
    })

  val cmsGrid: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("count_min_sketch_grid"),
    info("count_min_sketch_grid",
      "count_min_sketch_grid(x) - Aggregate: fixed Depth×Width count-min counter grid (array<bigint>) over a BIGINT base-hash column; point estimates via CmsFunctions.cmsEstimate."),
    { args =>
      require(args.length == 1,
        s"count_min_sketch_grid expects 1 argument, got ${args.length}")
      CountMinSketch(args(0)).toAggregateExpression()
    })

  val quantizeInt8: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("quantize_int8"),
    info("quantize_int8",
      "quantize_int8(v) - array<double> vector to int8-packed BINARY (symmetric scale 127)."),
    { args =>
      require(args.length == 1, s"quantize_int8 expects 1 argument, got ${args.length}")
      QuantizeInt8(args(0))
    })

  val dotInt8: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_int8"),
    info("dot_int8",
      "dot_int8(a, b) - Integer dot product of two int8-packed BINARY vectors."),
    { args =>
      require(args.length == 2, s"dot_int8 expects 2 arguments, got ${args.length}")
      DotProductInt8(args(0), args(1))
    })

  val zorderKey: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("zorder_key"),
    info("zorder_key",
      "zorder_key(a, b) - Morton interleave of two [0, 2^32) BIGINTs into one z-order BIGINT key."),
    { args =>
      require(args.length == 2, s"zorder_key expects 2 arguments, got ${args.length}")
      ZOrderKey(args(0), args(1))
    })

  /** Extract a literal codebook (array<array<double>>) from a foldable
    * expression — the SQL-surface route into the codebook expressions,
    * whose codebook is expression DATA, not a child subtree. */
  private def foldableCodebook(e: Expression, what: String): Seq[Seq[Double]] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, NumericType}
    require(e.foldable, s"$what must be a literal array<array<double>>, got $e")
    // SQL numeric literals parse as DECIMAL; accept any numeric element
    // type by folding through a cast to array<array<double>>
    val widened = e.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => e
      case ArrayType(ArrayType(_: NumericType, _), _) =>
        Cast(e, ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false))
      case other => throw new IllegalArgumentException(
        s"$what must be array<array<double>>, got $other")
    }
    val outer = widened.eval().asInstanceOf[ArrayData]
    require(outer != null, s"$what must not be NULL")
    (0 until outer.numElements()).map { c =>
      require(!outer.isNullAt(c), s"$what: centroid $c is NULL")
      val inner = outer.getArray(c)
      (0 until inner.numElements()).map { i =>
        // getDouble on a null slot silently unboxes to 0.0 — a malformed
        // codebook would mis-assign every cell with no error
        require(!inner.isNullAt(i), s"$what: centroid $c coordinate $i is NULL")
        inner.getDouble(i)
      }.toIndexedSeq
    }.toIndexedSeq
  }

  private def foldableString(e: Expression, what: String): String = e match {
    case f if f.foldable => String.valueOf(f.eval())
    case other => throw new IllegalArgumentException(s"$what must be a literal, got $other")
  }

  val nearestCentroid: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("nearest_centroid"),
    info("nearest_centroid",
      "nearest_centroid(v, n2, codebook[, mode]) - Cell id (BIGINT) of the best-scoring centroid in a " +
        "literal array<array<double>> codebook; mode 'cosine' (default, n2 = dot(v,v)) or 'pq' (L2 argmin); " +
        "ties to the smallest id."),
    { args =>
      require(args.length == 3 || args.length == 4,
        s"nearest_centroid expects 3 or 4 arguments, got ${args.length}")
      val mode = if (args.length == 4) foldableString(args(3), "nearest_centroid mode") else "cosine"
      NearestCentroid(args(0), args(1), foldableCodebook(args(2), "nearest_centroid codebook"), mode)
    })

  val centroidScores: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("centroid_scores"),
    info("centroid_scores",
      "centroid_scores(v, n2, codebook[, mode]) - array<double> of per-centroid scores against a literal " +
        "array<array<double>> codebook; mode 'cosine' (default), 'pq' or 'dot'."),
    { args =>
      require(args.length == 3 || args.length == 4,
        s"centroid_scores expects 3 or 4 arguments, got ${args.length}")
      val mode = if (args.length == 4) foldableString(args(3), "centroid_scores mode") else "cosine"
      CentroidScores(args(0), args(1), foldableCodebook(args(2), "centroid_scores codebook"), mode)
    })

  // ---- key algebra as SQL (the [REF] salting core for spark.sql users) ----
  // Built from concrete catalyst nodes, NOT via the Column API: a Column
  // converted mid-analysis yields a lazy ColumnNodeExpression leaf that
  // the analyzer never resolves inside a function builder (fails at
  // codegen with "Cannot generate code for expression: columnnodeexpression").

  private def foldableInt(e: Expression, what: String): Int = e match {
    case f if f.foldable => f.eval().asInstanceOf[Number].intValue()
    case other => throw new IllegalArgumentException(s"$what must be a literal, got $other")
  }

  import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, CaseWhen, Cast, Concat,
    Conv, GreaterThanOrEqual, Hex, Literal, Pmod, Remainder, ShiftRight, StringLPad, Substring,
    Subtract, ToBinary}
  import org.apache.spark.sql.types.LongType

  /** Catalyst twin of graft.keys.Hash31.hash32 (same constants). The key
    * is cast to BIGINT first — an INT column fed to the byte-shift
    * arithmetic directly would silently hash a different bit pattern. */
  private def hash31Expr(key0: Expression): Expression = {
    val key = Cast(key0, LongType)
    val terms = (0 until 8).map { i =>
      org.apache.spark.sql.catalyst.expressions.Multiply(
        BitwiseAnd(ShiftRight(key, Literal((7 - i) * 8)), Literal(255L)),
        Literal(graft.keys.Hash31.Pow31(i)))
    }
    val wrap = Literal(4294967296L)
    val sum = Remainder(
      terms.reduceLeft[Expression]((a, b) => Add(a, b)), wrap)
    CaseWhen(Seq((GreaterThanOrEqual(sum, Literal(2147483648L)), Subtract(sum, wrap))), Some(sum))
  }

  /** Catalyst twin of graft.keys.KeyCodec.beBytes (width-byte BE binary),
    * range-checked: StringLPad TRUNCATES hex digits beyond the target
    * width, so a bucket value that doesn't fit in `width` bytes would
    * silently encode a different bucket and the row would sort into the
    * wrong key range. Nothing ties a SQL caller's bucket expression to a
    * validated distributor, so the check must live in the expression. */
  private def beBytesExpr(v: Expression, width: Int): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{If, IsNull, LessThan, Or, RaiseError}
    val b = Cast(v, LongType)
    val inRange =
      if (width >= 8) GreaterThanOrEqual(b, Literal(0L))
      else org.apache.spark.sql.catalyst.expressions.And(
        GreaterThanOrEqual(b, Literal(0L)), LessThan(b, Literal(1L << (8 * width))))
    // NULL input propagates as a NULL key (standard SQL semantics and the
    // Column-API behavior); only genuinely out-of-range values raise —
    // without the IsNull arm, If treats the null predicate as false and a
    // single null row would abort the whole job
    If(Or(IsNull(b), inRange),
      ToBinary(StringLPad(Hex(b), Literal(width * 2), Literal("0")),
        Some(Literal("hex")), false),
      Cast(new RaiseError(Concat(Seq(
        Literal(s"salted_key: value out of range for a $width-byte field: "),
        Cast(b, org.apache.spark.sql.types.StringType)))),
        org.apache.spark.sql.types.BinaryType))
  }

  val hash31: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hash31"),
    info("hash31",
      "hash31(key) - The reference 31-polynomial hash (Java int semantics) of a BIGINT key's 8 BE bytes."),
    { args =>
      require(args.length == 1, s"hash31 expects 1 argument, got ${args.length}")
      hash31Expr(args(0))
    })

  val hash31Bucket: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("hash31_bucket"),
    info("hash31_bucket",
      "hash31_bucket(key, n) - Deterministic salt bucket pmod(hash31(key), n); n a literal in 1..256."),
    { args =>
      require(args.length == 2, s"hash31_bucket expects 2 arguments, got ${args.length}")
      Pmod(hash31Expr(args(0)), Literal(foldableInt(args(1), "hash31_bucket n").toLong))
    })

  val saltedKey: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("salted_key"),
    info("salted_key",
      "salted_key(bucket, key, prefixLen) - BINARY distributed key: prefixLen-byte BE bucket ++ 8-byte BE key."),
    { args =>
      require(args.length == 3, s"salted_key expects 3 arguments, got ${args.length}")
      val pl = foldableInt(args(2), "salted_key prefixLen")
      val keyBytes = beBytesExpr(args(1), 8)
      if (pl == 0) keyBytes else Concat(Seq(beBytesExpr(args(0), pl), keyBytes))
    })

  val originalKey: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("original_key"),
    info("original_key",
      "original_key(salted, prefixLen) - Recover the BIGINT key from a salted BINARY key."),
    { args =>
      require(args.length == 2, s"original_key expects 2 arguments, got ${args.length}")
      val pl = foldableInt(args(1), "original_key prefixLen")
      Cast(Conv(Hex(Substring(args(0), Literal(pl + 1), Literal(Int.MaxValue))),
        Literal(16), Literal(10)), LongType)
    })
}
