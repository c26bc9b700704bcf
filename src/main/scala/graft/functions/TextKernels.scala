package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd forms of the remaining hot text kernels (same
  * preference-ladder promotion as [[MinHashSigExpression]]: a Catalyst
  * `Expression` with `doGenCode` beats a Scala UDF — no closure/encoder
  * indirection, participates in whole-stage codegen). Kernels are shared
  * with the pipeline objects so both paths stay bit-identical. */

/** Winnowing fingerprint sketch → struct(n_fingerprints INT,
  * fp_checksum BIGINT). Kernel: [[graft.pipeline.NearDup.winnow]]. */
case class WinnowExpression(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("n_fingerprints", IntegerType, nullable = false),
    StructField("fp_checksum", LongType, nullable = false)))
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(input: Any): Any =
    WinnowExpression.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowExpression.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): WinnowExpression =
    copy(child = newChild)
}

object WinnowExpression {
  def compute(s: UTF8String): InternalRow = {
    val (count, checksum) = graft.pipeline.NearDup.winnow(s.toString)
    new GenericInternalRow(Array[Any](count, checksum))
  }
}

object Winnow {
  def apply(c: Column): Column =
    GraftSqlBridge.column(WinnowExpression(GraftSqlBridge.expression(c)))
}

/** The text-cleaning chain as one expression → string. Decodes the
  * document once, runs the optional [[graft.pipeline.CleanUdfs.fixText]]
  * and [[graft.pipeline.CleanUdfs.nfkc]] steps, then each
  * [[graft.pipeline.Clean.Rule]] in order on the same `String`, and
  * encodes once. A rule whose trigger is absent from the current text is
  * skipped: its pattern could not match. Same `java.util.regex` engine,
  * patterns and order as one `regexp_replace` per rule, so the output is
  * the same (CleanSpec's property spec pins it against that spelling). */
case class CleanExpression(child: Expression, fixText: Boolean, nfkc: Boolean,
    rules: Seq[graft.pipeline.Clean.Rule]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StringType
  // nullable whenever a Scala-function step runs, as the ScalaUDF steps
  // were: the schema a sink writes (`optional` vs `required` Parquet
  // columns) stays the chain's
  override def nullable: Boolean = child.nullable || fixText || nfkc
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_clean"
  // plan strings name the rules by count: the patterns hold raw newlines
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, fixText, nfkc, s"${rules.size} rules")

  @transient private lazy val kernel = new CleanKernel(fixText, nfkc, rules)

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("cleanKernel", kernel)
    defineCodeGen(ctx, ev, c => s"$k.apply($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): CleanExpression =
    copy(child = newChild)
}

/** [[CleanExpression]]'s per-document work, with each pattern compiled
  * once per instance (a task deserializes one instance). */
final class CleanKernel(fixText: Boolean, nfkc: Boolean,
    rules: Seq[graft.pipeline.Clean.Rule]) extends Serializable {
  private val patterns = rules.map(r => java.util.regex.Pattern.compile(r.pattern)).toArray
  private val replacements = rules.map(_.replacement).toArray
  private val triggers = rules.map(_.trigger).toArray

  def apply(s: UTF8String): UTF8String = {
    var t = s.toString
    if (fixText) t = graft.pipeline.CleanUdfs.fixText(t)
    if (nfkc) t = graft.pipeline.CleanUdfs.nfkc(t)
    var i = 0
    while (i < patterns.length) {
      if (triggers(i).in(t)) t = patterns(i).matcher(t).replaceAll(replacements(i))
      i += 1
    }
    UTF8String.fromString(t)
  }
}

object CleanChain {
  def apply(c: Column, rules: Seq[graft.pipeline.Clean.Rule],
      fixText: Boolean = false, nfkc: Boolean = false): Column =
    GraftSqlBridge.column(CleanExpression(GraftSqlBridge.expression(c), fixText, nfkc, rules))
}

/** Distinct word trigrams in first-occurrence order → array<string>.
  * Kernel: [[graft.pipeline.NearDup.trigrams]]. */
case class TrigramsExpression(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_trigrams"

  override protected def nullSafeEval(input: Any): Any =
    TrigramsExpression.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TrigramsExpression.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TrigramsExpression =
    copy(child = newChild)
}

object TrigramsExpression {
  def compute(s: UTF8String): ArrayData = {
    val grams = graft.pipeline.NearDup.trigrams(s.toString)
    val out = new Array[Any](grams.length)
    var i = 0
    while (i < grams.length) { out(i) = UTF8String.fromString(grams(i)); i += 1 }
    new GenericArrayData(out)
  }
}

object Trigrams {
  def apply(c: Column): Column =
    GraftSqlBridge.column(TrigramsExpression(GraftSqlBridge.expression(c)))
}

/** Content-defined substring-dedup windows → array<string>.
  * Kernel: [[graft.pipeline.Dedup.cdcWindows]]. */
case class CdcWindowsExpression(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_cdc_windows"

  override protected def nullSafeEval(input: Any): Any =
    CdcWindowsExpression.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcWindowsExpression.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CdcWindowsExpression =
    copy(child = newChild)
}

object CdcWindowsExpression {
  def compute(s: UTF8String): ArrayData = {
    val ws = graft.pipeline.Dedup.cdcWindows(s.toString)
    val out = new Array[Any](ws.length)
    var i = 0
    while (i < ws.length) { out(i) = UTF8String.fromString(ws(i)); i += 1 }
    new GenericArrayData(out)
  }
}

object CdcWindows {
  def apply(c: Column): Column =
    GraftSqlBridge.column(CdcWindowsExpression(GraftSqlBridge.expression(c)))
}

/** Content-defined windows WITH their 0-based codepoint start offsets →
  * array<struct<pos INT, w STRING>>. Kernel:
  * [[graft.pipeline.Dedup.cdcWindowsWithPos]] (the span REMOVAL
  * operator needs where each window sits). */
case class CdcWindowsPosExpression(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("w", StringType, nullable = false))), containsNull = false)
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_cdc_windows_pos"

  override protected def nullSafeEval(input: Any): Any =
    CdcWindowsPosExpression.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcWindowsPosExpression.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CdcWindowsPosExpression =
    copy(child = newChild)
}

object CdcWindowsPosExpression {
  def compute(s: UTF8String): ArrayData = {
    val ws = graft.pipeline.Dedup.cdcWindowsWithPos(s.toString)
    val out = new Array[Any](ws.length)
    var i = 0
    while (i < ws.length) {
      out(i) = new GenericInternalRow(
        Array[Any](ws(i)._1, UTF8String.fromString(ws(i)._2)))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object CdcWindowsPos {
  def apply(c: Column): Column =
    GraftSqlBridge.column(CdcWindowsPosExpression(GraftSqlBridge.expression(c)))
}

/** Per-language distinct-trigram profile hit counts over the language-
  * detection window → array<int> in [[graft.pipeline.LangProfiles.profiles]]
  * order. Kernel: [[graft.pipeline.LangProfiles.hitCounts]] (bit-equal to
  * the oracle's staged `list_intersect` spelling). */
case class LangHitsExpression(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_lang_hits"

  override protected def nullSafeEval(input: Any): Any =
    LangHitsExpression.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LangHitsExpression.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): LangHitsExpression =
    copy(child = newChild)
}

object LangHitsExpression {
  def compute(s: UTF8String): ArrayData = {
    val counts = graft.pipeline.LangProfiles.hitCounts(s.toString)
    val out = new Array[Any](counts.length)
    var i = 0
    while (i < counts.length) { out(i) = counts(i); i += 1 }
    new GenericArrayData(out)
  }
}

object LangHits {
  def apply(c: Column): Column =
    GraftSqlBridge.column(LangHitsExpression(GraftSqlBridge.expression(c)))
}

/** Character-diversity sums → struct(n_chars, n_distinct, sq_sum) —
  * all BIGINT. Kernel: [[graft.pipeline.Analytics.charDiversityKernel]]
  * (replaces an interpreted sorted-HOF fold measured 9.1 s at the 100x
  * probe; the sums are order-independent integers, so the primitive
  * sort + run-length kernel is result-identical). */
case class CharDiversityExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("distinct", LongType, nullable = false),
    StructField("sq", LongType, nullable = false)))
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_char_diversity"
  override protected def nullSafeEval(input: Any): Any =
    CharDiversityExpression.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharDiversityExpression.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): CharDiversityExpression =
    copy(child = newChild)
}

object CharDiversityExpression {
  def compute(s: UTF8String): InternalRow = {
    val (n, d, sq) = graft.pipeline.Analytics.charDiversityKernel(s.toString)
    new GenericInternalRow(Array[Any](n, d, sq))
  }
}

object CharDiversity {
  def apply(c: Column): Column =
    GraftSqlBridge.column(CharDiversityExpression(GraftSqlBridge.expression(c)))
}

/** Word-diversity sums over lowercased whitespace words →
  * struct(n_words, n_distinct, sq_sum), all BIGINT. Kernel:
  * [[graft.pipeline.Analytics.wordDiversityKernel]]. */
case class WordDiversityExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("distinct", LongType, nullable = false),
    StructField("sq", LongType, nullable = false)))
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_word_diversity"
  override protected def nullSafeEval(input: Any): Any =
    WordDiversityExpression.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordDiversityExpression.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): WordDiversityExpression =
    copy(child = newChild)
}

object WordDiversityExpression {
  def compute(s: UTF8String): InternalRow = {
    val (n, d, sq) = graft.pipeline.Analytics.wordDiversityKernel(s.toString)
    new GenericInternalRow(Array[Any](n, d, sq))
  }
}

object WordDiversity {
  def apply(c: Column): Column =
    GraftSqlBridge.column(WordDiversityExpression(GraftSqlBridge.expression(c)))
}

/** Gopher n-gram repetition sums for n ∈ {2,3,4} → struct(cnt2, len2,
  * dup2, cnt3, len3, dup3, cnt4, len4, dup4), all BIGINT (cntN = top
  * n-gram occurrences, lenN = its code-point length, dupN = duplicated-
  * gram char sum). Kernel: [[graft.pipeline.Repetition.dupNgramsKernel]]
  * (hash-grouped counts; tie on equal top counts breaks to the
  * code-point-smallest gram, the oracle's ORDER BY cnt DESC, g ASC). */
case class DupNgramsExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(
    Seq(2, 3, 4).flatMap(n => Seq(
      StructField(s"cnt$n", LongType, nullable = false),
      StructField(s"len$n", LongType, nullable = false),
      StructField(s"dup$n", LongType, nullable = false))))
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_dup_ngrams"
  override protected def nullSafeEval(input: Any): Any =
    DupNgramsExpression.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DupNgramsExpression.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): DupNgramsExpression =
    copy(child = newChild)
}

object DupNgramsExpression {
  def compute(s: UTF8String): InternalRow = {
    val a = graft.pipeline.Repetition.dupNgramsKernel(s.toString)
    new GenericInternalRow(Array[Any](a(0), a(1), a(2), a(3), a(4), a(5), a(6), a(7), a(8)))
  }
}

object DupNgrams {
  def apply(c: Column): Column =
    GraftSqlBridge.column(DupNgramsExpression(GraftSqlBridge.expression(c)))
}

/** In-row collapsed word TYPE counts →
  * array<struct<word STRING, n BIGINT>>, word-ascending. Kernel:
  * [[graft.pipeline.LangModel.wordTypeCounts]]; `lower` (a plan-time
  * constant) selects the lowercased word fold vs the
  * case-preserving split. */
case class WordCountsExpression(child: Expression, lower: Boolean) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_word_counts"
  override protected def nullSafeEval(input: Any): Any =
    WordCountsExpression.compute(input.asInstanceOf[UTF8String], lower)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordCountsExpression.compute($c, $lower)")
  override protected def withNewChildInternal(newChild: Expression): WordCountsExpression =
    copy(child = newChild)
}

object WordCountsExpression {
  def compute(s: UTF8String, lower: Boolean): ArrayData = {
    val ws = graft.pipeline.LangModel.wordTypeCounts(s.toString, lower)
    val out = new Array[Any](ws.length)
    var i = 0
    while (i < ws.length) {
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(ws(i)._1), ws(i)._2))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object WordCounts {
  def apply(c: Column, lower: Boolean): Column =
    GraftSqlBridge.column(WordCountsExpression(GraftSqlBridge.expression(c), lower))
}

/** In-row hashed-BoW embedding + raw sign-LSH plane projections →
  * struct(vec ARRAY<STRUCT<dim BIGINT, weight BIGINT>>, projs ARRAY<BIGINT>),
  * vec dim-ascending, projs one exact ±1-plane dot per plane. Kernel:
  * [[graft.pipeline.TextEmbed.hashedBowKernel]]; `np` (a plan-time
  * constant, derived from the corpus count) selects the plane prefix —
  * 0 skips the projections. The bucket BITS are thresholded by the
  * caller (corpus-mean centering needs a corpus statistic the row
  * kernel cannot know). */
case class HashedBowExpression(child: Expression, np: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("vec", ArrayType(StructType(Seq(
      StructField("dim", LongType, nullable = false),
      StructField("weight", LongType, nullable = false))), containsNull = false),
      nullable = false),
    StructField("projs", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_hashed_bow"
  override protected def nullSafeEval(input: Any): Any =
    HashedBowExpression.compute(input.asInstanceOf[UTF8String], np)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashedBowExpression.compute($c, $np)")
  override protected def withNewChildInternal(newChild: Expression): HashedBowExpression =
    copy(child = newChild)
}

object HashedBowExpression {
  def compute(s: UTF8String, np: Int): InternalRow = {
    val (vec, projs) = graft.pipeline.TextEmbed.hashedBowKernel(s.toString, np)
    val arr = new Array[Any](vec.length)
    var i = 0
    while (i < vec.length) {
      arr(i) = new GenericInternalRow(Array[Any](vec(i)._1, vec(i)._2))
      i += 1
    }
    new GenericInternalRow(
      Array[Any](new GenericArrayData(arr), new GenericArrayData(projs)))
  }
}

object HashedBow {
  def apply(c: Column, np: Int): Column =
    GraftSqlBridge.column(HashedBowExpression(GraftSqlBridge.expression(c), np))
}

/** Interval-merged duplicated-n-gram char counts for n ∈ {2,3,4} →
  * struct(mdup2, mdup3, mdup4), all BIGINT. Kernel:
  * [[graft.pipeline.Repetition.dupNgramsMergedKernel]] (Gopher's
  * bounded "fraction of characters in duplicate n-grams" coverage —
  * each word's chars count once per n however many duplicated
  * occurrences overlap it). */
case class DupNgramsMergedExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(
    Seq(2, 3, 4).map(n => StructField(s"mdup$n", LongType, nullable = false)))
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_dup_ngrams_merged"
  override protected def nullSafeEval(input: Any): Any =
    DupNgramsMergedExpression.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DupNgramsMergedExpression.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): DupNgramsMergedExpression =
    copy(child = newChild)
}

object DupNgramsMergedExpression {
  def compute(s: UTF8String): InternalRow = {
    val a = graft.pipeline.Repetition.dupNgramsMergedKernel(s.toString)
    new GenericInternalRow(Array[Any](a(0), a(1), a(2)))
  }
}

object DupNgramsMerged {
  def apply(c: Column): Column =
    GraftSqlBridge.column(DupNgramsMergedExpression(GraftSqlBridge.expression(c)))
}

/** In-document first-occurrence line dedup → struct(n_lines BIGINT,
  * n_kept BIGINT, text_kept STRING). Kernel:
  * [[graft.pipeline.Dedup.dedupLinesKernel]] — a linear seen-set pass
  * replacing the O(k²) `filter(ls, (x,i) -> array_position(slice(...)))`
  * HOF spelling (verdict r10 finding #2). `sep` is a plan-time constant
  * (line vs paragraph flavor), not a child expression. */
case class DedupLinesExpression(child: Expression, sep: String) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("text_kept", StringType, nullable = false)))
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_dedup_lines"
  override protected def nullSafeEval(input: Any): Any =
    DedupLinesExpression.compute(input.asInstanceOf[UTF8String], sep)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sep", sep, "java.lang.String")
    defineCodeGen(ctx, ev, c => s"graft.functions.DedupLinesExpression.compute($c, $sepRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): DedupLinesExpression =
    copy(child = newChild)
}

object DedupLinesExpression {
  def compute(s: UTF8String, sep: String): InternalRow = {
    val (n, k, t) = graft.pipeline.Dedup.dedupLinesKernel(s.toString, sep)
    new GenericInternalRow(Array[Any](n, k, UTF8String.fromString(t)))
  }
}

object DedupLines {
  def apply(c: Column, sep: String): Column =
    GraftSqlBridge.column(DedupLinesExpression(GraftSqlBridge.expression(c), sep))
}

/** Per-doc DSIR hashed-bigram feature counts →
  * array<struct<feat INT, n BIGINT>>, feats ascending. Feature id =
  * first 32 md5 bits of "prev cur" mod [[graft.pipeline.LangModel.DsirHashDim]]
  * — bit-identical to the SQL spelling
  * `conv(substring(md5(concat(prev,' ',cur)),1,8),16,10) % 4096` the
  * oracle still runs. Collapsing in-row means the downstream exchange
  * ships ≤ min(doc_bigrams, 4096) pre-counted rows per doc instead of
  * one string-keyed row per bigram token occurrence. */
case class DsirBigramFeatsExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("feat", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_dsir_bigram_feats"
  override protected def nullSafeEval(input: Any): Any =
    DsirBigramFeatsExpression.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DsirBigramFeatsExpression.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): DsirBigramFeatsExpression =
    copy(child = newChild)
}

object DsirBigramFeatsExpression {
  def compute(s: UTF8String): ArrayData = {
    val counts = graft.pipeline.LangModel.dsirBigramFeatCounts(s.toString)
    val out = new Array[Any](counts.length)
    var i = 0
    while (i < counts.length) {
      out(i) = new GenericInternalRow(Array[Any](counts(i)._1, counts(i)._2))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object DsirBigramFeats {
  def apply(c: Column): Column =
    GraftSqlBridge.column(DsirBigramFeatsExpression(GraftSqlBridge.expression(c)))
}

/** Per-doc HASHED-transition-model features →
  * array<struct<hp INT, hb INT, n BIGINT>>, (hp, hb) ascending.
  * With h(w) = first 32 md5 bits of w:
  * hp = h(prev) mod [[graft.pipeline.LangModel.LmCtxDim]];
  * hb = (h(prev)·31 + h(cur)) mod [[graft.pipeline.LangModel.LmBigDim]]
  * — the DSIR feature map applied to BOTH key spaces of the
  * CCNet-style bigram transition score, bit-identical to the oracle's
  * `CAST('0x' || substr(md5(w), 1, 8) AS BIGINT)` arithmetic spelling.
  * Kernel: [[graft.pipeline.LangModel.lmBigramFeatCounts]]. */
case class LmBigramFeatsExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("hp", IntegerType, nullable = false),
    StructField("hb", IntegerType, nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_lm_bigram_feats"
  override protected def nullSafeEval(input: Any): Any =
    LmBigramFeatsExpression.compute(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LmBigramFeatsExpression.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): LmBigramFeatsExpression =
    copy(child = newChild)
}

object LmBigramFeatsExpression {
  def compute(s: UTF8String): ArrayData = {
    val counts = graft.pipeline.LangModel.lmBigramFeatCounts(s.toString)
    val out = new Array[Any](counts.length)
    var i = 0
    while (i < counts.length) {
      out(i) = new GenericInternalRow(Array[Any](
        counts(i)._1, counts(i)._2, counts(i)._3))
      i += 1
    }
    new GenericArrayData(out)
  }
}

object LmBigramFeats {
  def apply(c: Column): Column =
    GraftSqlBridge.column(LmBigramFeatsExpression(GraftSqlBridge.expression(c)))
}
