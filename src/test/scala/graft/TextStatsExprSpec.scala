package graft

import org.apache.spark.sql.functions._

/** Pins the native text-stats expressions (count_in_set / sum_strlen /
  * roll_hash31) to the interpreted HOF formulations they replaced —
  * element-for-element equality on adversarial inputs (empty strings,
  * repeated delimiters, unicode incl. surrogate pairs) and on the real
  * documents table. The production queries are additionally oracle-checked
  * end-to-end by the driver (statsSql etc. unchanged).
  */
class TextStatsExprSpec extends SparkSpecBase {

  private def adversarial() = {
    import spark.implicits._
    Seq(
      "",
      " ",
      "  ",
      "the",
      "the the the",
      "a of and to the",
      "no stop words here",
      "trailing space ",
      " leading space",
      "Ünïcødé tõkens ære fün",
      "emoji 😀 and 🐈 pairs", // surrogate pairs
      "punct!: a, of. and? to;",
      "x",
      "the quick brown fox jumps over the lazy dog")
      .toDF("text")
  }

  test("count_in_set equals filter+array_contains on adversarial inputs") {
    val diff = adversarial()
      .withColumn("w", split(col("text"), " "))
      .select(
        expr("count_in_set(w, array('the','a','of','and','to'))").as("fast"),
        expr("size(filter(w, x -> array_contains(array('the','a','of','and','to'), x)))").as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("sum_strlen equals aggregate+length on adversarial inputs") {
    val diff = adversarial()
      .withColumn("w", split(col("text"), " "))
      .select(
        expr("sum_strlen(w)").as("fast"),
        expr("aggregate(w, 0, (acc, x) -> acc + length(x))").as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("roll_hash31 equals the split+ascii fold on adversarial inputs") {
    val diff = adversarial()
      .select(
        expr("roll_hash31(text)").as("fast"),
        expr("aggregate(split(text, ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)")
          .as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.count() == 0)
  }

  test("native expressions equal HOF forms on the documents table") {
    val docs = graft.engine.Tables.load(spark, sf(), "documents")
      .withColumn("w", split(col("text"), " "))
    val diff = docs.select(
        expr("count_in_set(w, array('the','a','of','and','to'))").as("c1"),
        expr("size(filter(w, x -> array_contains(array('the','a','of','and','to'), x)))").as("c2"),
        expr("sum_strlen(w)").as("s1"),
        expr("aggregate(w, 0, (acc, x) -> acc + length(x))").as("s2"),
        expr("roll_hash31(text)").as("r1"),
        expr("aggregate(split(text, ''), 0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)").as("r2"))
      .filter(col("c1") =!= col("c2") || col("s1") =!= col("s2") || col("r1") =!= col("r2"))
    assert(diff.count() == 0)
  }

  test("sum_strlen overflow reproduces the fold's per-mode Add semantics") {
    // ~2³¹ total chars without 2 GB of data: one 1 MiB string, 2048 refs
    // to it (ADVICE r4 — the old −1 sentinel collided with a LEGACY
    // total that wraps to exactly −1; Long.MinValue is out of Int-fold
    // range, hence unreachable).
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val mb = UTF8String.fromString("a" * (1 << 20))
    val arr = new GenericArrayData(Array.fill[Any](2048)(mb)) // 2^31 chars
    val legacy = graft.functions.TextStatsUtil.sumStrLen(arr, graft.functions.TextStatsUtil.ModeLegacy)
    assert(legacy == Int.MinValue.toLong) // wrapped, NOT the null sentinel
    assert(intercept[ArithmeticException] {
      graft.functions.TextStatsUtil.sumStrLen(arr, graft.functions.TextStatsUtil.ModeAnsi)
    } != null)
    assert(graft.functions.TextStatsUtil.sumStrLen(arr, graft.functions.TextStatsUtil.ModeTry)
      == java.lang.Long.MIN_VALUE) // TRY overflow → null, same sentinel as null element
    val nullElem = new GenericArrayData(Array[Any](mb, null))
    assert(graft.functions.TextStatsUtil.sumStrLen(nullElem, graft.functions.TextStatsUtil.ModeLegacy)
      == java.lang.Long.MIN_VALUE) // null element → sentinel in every mode
  }

  test("null input yields null; non-foldable set fails analysis") {
    import spark.implicits._
    val df = Seq((None: Option[String], Seq("a", "b"))).toDF("text", "arr")
    val r = df.select(expr("roll_hash31(text)"),
      expr("count_in_set(arr, array('a'))"),
      expr("sum_strlen(split(text, ' '))")).collect()
    assert(r.head.isNullAt(0) && !r.head.isNullAt(1) && r.head.isNullAt(2))
    val e = intercept[Exception](
      df.select(expr("count_in_set(arr, arr)")).collect())
    assert(e.getMessage.contains("foldable"))
  }
}
