package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hash kernels. Generated code calls
  * the static [[HashUtil]] kernels directly (the StaticInvoke pattern), so
  * the expressions stay inside whole-stage codegen — no UDF boxing, no
  * interpreted fallback on the hot path.
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash64 needs array<string>, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** MinHash banding kernel (see [[HashUtil.minhashBands]]): array<string>
  * shingles → array<long> of `bands` LSH bucket hashes, fully codegen'd.
  */
case class MinHashBandsExpr(child: Expression, numHashes: Int, bands: Int)
  extends UnaryExpression {
  require(numHashes % bands == 0, "bands must divide numHashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_bands needs array<string>, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.minhashBands(input.asInstanceOf[ArrayData], numHashes, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashUtil.minhashBands($c, $numHashes, $bands)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBandsExpr =
    copy(child = newChild)
}

/** Word k-shingles kernel (see [[HashUtil.wordShingles]]): string →
  * array<string>, codegen'd — the shingling front of the dedup pipeline.
  */
case class WordShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, "shingle size must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_shingles needs string, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.wordShingles(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.wordShingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
}

/** All-windows word k-gram kernel (see [[HashUtil.wordNgrams]]): string →
  * array<string> of every k-token window in order (empty when the doc has
  * fewer than k tokens), codegen'd — the LM / span-statistics front end.
  */
case class WordNgramsExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, "ngram size must be positive")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_ngrams needs string, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.wordNgrams(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.wordNgrams($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
}

/** Banded Levenshtein kernel (see [[HashUtil.boundedLevenshtein]]):
  * (string, string) → distance ≤ maxDist or -1, O(maxDist·len), codegen'd.
  */
case class BoundedLevenshteinExpr(left: Expression, right: Expression, maxDist: Int)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(maxDist >= 0, "maxDist must be non-negative")
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bounded_levenshtein needs two strings, got ${l.catalogString}, ${r.catalogString}")
    }
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.boundedLevenshtein(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], maxDist)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashUtil.boundedLevenshtein($a, $b, $maxDist)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BoundedLevenshteinExpr =
    copy(left = newLeft, right = newRight)
}

/** ROUGE-N counts kernel (see [[HashUtil.rougeOverlap]]):
  * (candidate, reference) → [clipped overlap, n_cand, n_ref], codegen'd —
  * replaces an O(g²) interpreted nested-HOF fold with an O(g log g)
  * sorted-merge walk.
  */
case class RougeOverlapExpr(left: Expression, right: Expression, k: Int)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(k > 0, "ngram size must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"rouge_overlap needs two strings, got ${l.catalogString}, ${r.catalogString}")
    }
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.rougeOverlap(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashUtil.rougeOverlap($a, $b, $k)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): RougeOverlapExpr =
    copy(left = newLeft, right = newRight)
}

/** chrF character-k-gram overlap kernel (see [[HashUtil.chrOverlap]]):
  * clipped multiset overlap over whitespace-stripped char grams,
  * codegen'd — the character-level sibling of [[RougeOverlapExpr]].
  */
case class ChrOverlapExpr(left: Expression, right: Expression, k: Int)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(k > 0, "chr gram size must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"chr_overlap needs two strings, got ${l.catalogString}, ${r.catalogString}")
    }
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.chrOverlap(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashUtil.chrOverlap($a, $b, $k)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ChrOverlapExpr =
    copy(left = newLeft, right = newRight)
}

/** Language-ID kernel (see [[HashUtil.langId]]): string → language code,
  * codegen'd — replaces a 4×-tokenizing interpreted HOF chain.
  */
case class LangIdExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"lang_id needs string, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.langId(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.langId($c)")
  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}

/** Unicode canonicalization kernel (see [[HashUtil.normalizeText]]):
  * NFC → lowercase → strip combining marks → NFC, codegen'd — the
  * dedup-key normalizer for corpora where composed/decomposed/accented
  * spellings of the same text must collide.
  */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"normalize_text needs string, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.normalizeText(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.normalizeText($c)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeTextExpr =
    copy(child = newChild)
}

/** Quality-counter kernel (see [[HashUtil.qualityCounts]]): string →
  * [n_chars, n_tokens, nonspace_chars, stop_hits, punct_chars] in one pass,
  * codegen'd — replaces a 3×-tokenizing interpreted HOF/regex chain.
  */
case class QualityCountsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"quality_counts needs string, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.qualityCounts(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.qualityCounts($c)")
  override protected def withNewChildInternal(newChild: Expression): QualityCountsExpr =
    copy(child = newChild)
}

/** Image-container header parser (see [[HashUtil.mediaHeader]]): binary →
  * struct(format, width, height), or NULL for unrecognized/truncated bytes
  * — codegen'd, so metadata extraction rides the scan like any projection.
  */
case class MediaHeaderExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"media_header needs binary, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.mediaHeader(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HashUtil.mediaHeader($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildInternal(newChild: Expression): MediaHeaderExpr =
    copy(child = newChild)
}

/** Bloom-filter membership probe over a 64-bit key column. The filter is
  * built once on the (small) key side (`DataFrameStatFunctions.bloomFilter`,
  * an aggregate that returns the driver-held bits) and ships to executors
  * inside the task binary via `addReferenceObj` — the codegen'd probe is a
  * branch-free `mightContainLong` per row, no UDF boxing.
  *
  * Guarantee used by [[graft.operators.Relational.bloomAntiJoin]]: no false
  * negatives — a key that was inserted ALWAYS probes true, so the
  * "definitely absent" branch is exact and only probe-true rows need the
  * exact verification join.
  */
case class BloomMightContainExpr(
    child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain needs bigint (hash keys first), got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    bloom.mightContainLong(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", bloom,
      "org.apache.spark.util.sketch.BloomFilter")
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpr =
    copy(child = newChild)
}

case class RollingHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"rolling_hash64 needs string, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.rollingHash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.rollingHash64($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingHash64Expr =
    copy(child = newChild)
}

/** Content-defined chunk boundary kernel (see [[HashUtil.cdcBoundaries]]):
  * string → array<int> of 1-based chunk END byte positions, codegen'd —
  * the insertion-robust splitter behind sub-document dedup.
  */
case class CdcBoundariesExpr(child: Expression, maskBits: Int, minLen: Int)
    extends UnaryExpression {
  require(maskBits >= 1 && maskBits <= 20, s"cdc maskBits out of range: $maskBits")
  require(minLen >= 1, s"cdc minLen must be >= 1: $minLen")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cdc_boundaries needs string, got ${other.catalogString}")
    }
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.cdcBoundaries(input.asInstanceOf[UTF8String], maskBits, minLen)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashUtil.cdcBoundaries($c, $maskBits, $minLen)")
  override protected def withNewChildInternal(newChild: Expression): CdcBoundariesExpr =
    copy(child = newChild)
}
