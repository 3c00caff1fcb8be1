package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NativeExprs

/** The q_dedup_simhash signature kernel against a second, kernel-free
  * path on a corpus built to trip every boundary of the pipeline.
  *
  * The second path is Spark's own md5/conv builtins over the exploded
  * tokens with integer `div`/`%` arithmetic, the shape the DuckDB oracle
  * states. Tied vote bits (a tally of exactly 0) are where any asymmetry
  * in token splitting, hashing or the sign rule flips first, so the
  * corpus is built to carry many of them.
  */
class SimhashProbeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession =
    graft.core.Graft.tune(SparkSession.builder().master("local[4]"), 4).getOrCreate()

  /** Whitespace, non-ASCII, duplicate and one-token texts, 60 tie-heavy
    * docs and 20 pairs one token apart.
    */
  private def adversarialDocs: Seq[String] = Seq(
    // whitespace boundary cases: split(' ') must agree on empties
    "", " ", "   ", "a ", " a", "a  b", "  a  b  ",
    // tokens carrying non-space whitespace (never split on)
    "a\tb c\nd",
    "tab\there new\nline",
    // non-ASCII: CJK, emoji, combining marks, NBSP (U+00A0 is NOT a
    // split separator), full-width space (U+3000)
    "\u65e5\u672c\u8a9e \u30c6\u30ad\u30b9\u30c8 \u5206\u5272",  // CJK
    "emoji \uD83C\uDF89 and \uD83D\uDE80 tokens",
    "cafe\u0301 naive\u0308 a\u030a",                // combining marks
    "nbsp\u00a0joined pair",
    "full\u3000width\u3000space",
    "\u00df ss \u1e9e SS \u0130 i\u0307",           // case-folding letters
    // exact duplicates (near-dup pairs at hamming 0)
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog extra",
    // one-token docs: every bit of the one hash wins its vote
    "solo", "solo", "x") ++
    // even numbers of distinct tokens drive vote tallies toward 0
    (0 until 60).map(i => (0 until 2 * (1 + i % 6)).map(j => s"t${i}_$j").mkString(" ")) ++
    // pairs differing by one token: hamming hovers at the <=3 gate
    (0 until 20).flatMap { i =>
      val base = (0 until 8).map(j => s"p${i}_$j")
      Seq(base.mkString(" "), (base.init :+ s"p${i}_alt").mkString(" "))
    }

  /** Per doc: the kernel's four 16-bit bands, the builtin path's bands
    * (`sq0..sq3`), `kernel_eq_sql`, and `n_tied`, the bits whose ±1 vote
    * tally is exactly 0.
    */
  private def probe(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("tk"))
    val kernel = toks.select(col("doc_id"), NativeExprs.simhash64(col("tk")).as("sig"))
      .select(col("doc_id") +: (0 until 4).map(k =>
        shiftrightunsigned(col("sig"), 16 * k).bitwiseAND(0xffffL).as(s"b$k")): _*)
    val bits = spark.createDataFrame((0 until 60).map(b => (b, 1L << b))).toDF("b", "p")
    val votes = toks
      .select(col("doc_id"), explode(col("tk")).as("t"))
      .select(col("doc_id"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
      .crossJoin(broadcast(bits))
      .groupBy(col("doc_id"), col("b"), col("p"))
      .agg(sum(when(expr("(h div p) % 2") === 1, 1).otherwise(-1)).as("v"))
    val sqlSig = votes.groupBy(col("doc_id"))
      .agg(sum(when(col("v") > 0, col("p")).otherwise(0L)).as("s"),
        sum(when(col("v") === 0, 1).otherwise(0)).as("n_tied"))
      .select(col("doc_id"), col("n_tied"),
        expr("s % 65536").as("sq0"), expr("(s div 65536) % 65536").as("sq1"),
        expr("(s div 4294967296) % 65536").as("sq2"),
        expr("(s div 281474976710656) % 65536").as("sq3"))
    kernel.join(sqlSig, Seq("doc_id"))
      .withColumn("kernel_eq_sql",
        col("b0") === col("sq0") && col("b1") === col("sq1") &&
          col("b2") === col("sq2") && col("b3") === col("sq3"))
  }

  test("simhash kernel equals the builtin md5/conv path on every adversarial doc, tied bits included") {
    import spark.implicits._
    val texts = adversarialDocs
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val rows = probe(docs).select("doc_id", "kernel_eq_sql", "n_tied").collect()
    assert(rows.length == texts.length)
    val mismatched = rows.filterNot(_.getBoolean(1)).map(r => texts(r.getLong(0).toInt))
    assert(mismatched.isEmpty, s"kernel != builtin path on: ${mismatched.mkString(" | ")}")
    assert(rows.exists(_.getLong(2) > 0), "no doc has a tied vote bit: the boundary went unexercised")
  }
}
