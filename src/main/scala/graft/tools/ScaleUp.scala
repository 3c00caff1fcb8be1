package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Dev harness: synthesize an N×-replicated copy of a testdata scale
  * directory with FK-consistent key offsets, for scale-up validation
  * runs (SURVEY §6). Each copy i shifts every surrogate key by
  * i × (max(key)+1), so copies never collide and every foreign key in
  * copy i points at the matching parent row in copy i — referential
  * integrity holds at N× the rows. Shared small dims (region, nation)
  * are NOT replicated: their keys are the int32 FK targets every copy
  * reuses, mirroring how a real lakehouse scales facts against stable
  * dimensions. Text/embedding payloads are replicated verbatim — the
  * point of the exercise is denser dedup/LSH candidate sets, not new
  * entropy.
  *
  * DISTINCT MODE (r9 VERDICT #3 — the axis verbatim replicas cannot
  * stress): `distinct` as the 4th arg mutates text/embedding payloads
  * per copy so the similarity/ANN/vocab families face N× the
  * SIGNATURE CARDINALITY instead of N× duplication:
  *   - documents.text: every token gets a deterministic per-copy
  *     ASCII suffix (`_i`), so copy vocabularies are disjoint — gram sets,
  *     minhash/simhash signatures and vocab cardinality all scale
  *     with the factor while within-copy similarity structure is
  *     preserved exactly; n_chars is recomputed to keep the column's
  *     length(text) contract.
  *   - embeddings.embedding: copy i rotates the vector circularly by
  *     i mod dim positions — norm-preserving, deterministic, distinct.
  *   Copy 0 stays verbatim in both. Oracle parity needs no derivation:
  *   face and oracle read the SAME mutated parquet.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> [factor=8] [distinct]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 8
    val distinctMode = args.length > 3 && args(3) == "distinct"
    val spark = graft.core.Graft.localSession()

    def read(t: String): DataFrame = Tables.parquet(spark, s"$srcDir/$t.parquet")

    // max(key)+1 per offsettable key, collected once (scalar per table)
    def span(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    val custSpan = span(read("customer"), "c_custkey")
    val suppSpan = span(read("supplier"), "s_suppkey")
    val partSpan = span(read("part"), "p_partkey")
    val orderSpan = span(read("orders"), "o_orderkey")
    val eventSpan = span(read("events"), "event_id")
    val docSpan = span(read("documents"), "doc_id")
    val vecSpan = span(read("embeddings"), "vec_id")

    /** Union `factor` shifted copies; `shifts` maps column → per-copy
      * stride, `mutate` maps column → per-copy payload mutation
      * (distinct mode). Column order and dtypes are preserved exactly
      * (int64 keys stay int64; untouched columns pass through). */
    def replicate(df: DataFrame, shifts: Map[String, Long],
        mutate: Map[String, Int => org.apache.spark.sql.Column] = Map.empty): DataFrame = {
      val copies = (0 until factor).map { i =>
        df.select(df.columns.map { c =>
          (shifts.get(c), mutate.get(c)) match {
            case (Some(stride), _) if i > 0 => (col(c) + lit(stride * i)).as(c)
            case (_, Some(fn)) if i > 0 => fn(i).as(c)
            case _ => col(c)
          }
        }.toIndexedSeq: _*)
      }
      copies.reduce(_ unionAll _)
    }

    // distinct-mode payload mutations (copy 0 verbatim). The suffix
    // separator must stay ASCII: the corpus is pure-ASCII, and the r11
    // gate caught that a non-ASCII separator (the original `§`) makes
    // edit-distance faces diverge between engines — Spark's levenshtein
    // counts code points, DuckDB's counts BYTES, so a 2-byte char turns
    // identical logical edits into different distances. `_` collides
    // with no corpus token (none contain `_` or digits) and keeps copy
    // vocabularies disjoint under both space and \w+ tokenizations.
    val tokenSuffix: Int => org.apache.spark.sql.Column = i =>
      array_join(transform(split(col("text"), " "),
        t => concat(t, lit("_" + i))), " ")
    val charsOf: Int => org.apache.spark.sql.Column = i =>
      length(tokenSuffix(i)).cast("long")
    val rotate: Int => org.apache.spark.sql.Column = i => {
      val k = i % 64
      if (k == 0) col("embedding")
      else concat(slice(col("embedding"), k + 1, 64 - k),
        slice(col("embedding"), 1, k))
    }
    val docMut: Map[String, Int => org.apache.spark.sql.Column] =
      if (distinctMode) Map("text" -> tokenSuffix, "n_chars" -> charsOf)
      else Map.empty
    val vecMut: Map[String, Int => org.apache.spark.sql.Column] =
      if (distinctMode) Map("embedding" -> rotate) else Map.empty

    val plans: Seq[(String, DataFrame)] = Seq(
      "region" -> read("region"),
      "nation" -> read("nation"),
      "customer" -> replicate(read("customer"), Map("c_custkey" -> custSpan)),
      "supplier" -> replicate(read("supplier"), Map("s_suppkey" -> suppSpan)),
      "part" -> replicate(read("part"), Map("p_partkey" -> partSpan)),
      "orders" -> replicate(read("orders"),
        Map("o_orderkey" -> orderSpan, "o_custkey" -> custSpan)),
      "lineitem" -> replicate(read("lineitem"),
        Map("l_orderkey" -> orderSpan, "l_partkey" -> partSpan,
          "l_suppkey" -> suppSpan)),
      "events" -> replicate(read("events"),
        // user_id's FK target is customer.c_custkey, so it must shift by
        // the CUSTOMER span — shifting by its own max (old bug) pointed
        // copy i's users at copy-0-range customers and only preserved
        // referential integrity because the test keys happen to be dense
        Map("event_id" -> eventSpan, "user_id" -> custSpan)),
      "documents" -> replicate(read("documents"), Map("doc_id" -> docSpan), docMut),
      "embeddings" -> replicate(read("embeddings"), Map("vec_id" -> vecSpan), vecMut))

    new java.io.File(outDir).mkdirs()
    plans.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[scaleup] wrote $name")
    }
    spark.stop()
  }
}
