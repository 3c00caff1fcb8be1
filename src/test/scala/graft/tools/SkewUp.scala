package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Builds the skewed sibling of a ScaleUp directory: every table is
  * carried over unchanged except lineitem, whose l_orderkey is pointed
  * at ONE hot order for a deterministic ~20% of rows
  * (l_linenumber-preserving; rows with original l_orderkey % 5 == 0 go
  * hot). FK integrity holds — the hot key is an existing orderkey —
  * and the skew lands on the ORDERKEY column because that is the key
  * the SF-scaling SortMergeJoins actually shuffle on (q18 / q5 / the
  * fact build); a partkey skew would be invisible, since the
  * lineitem⋈part join stays a broadcast at every captured scale (the
  * partkey-skewed replica measured exactly that: skew=false everywhere).
  * At 128× sf0.1 (~77 M lineitem rows) the hot reducer carries ≥20%
  * of the shuffle bytes, crossing BOTH default AQE skew gates
  * (`skewedPartitionFactor`=5× median and
  * `skewedPartitionThresholdInBytes`=256 MB), so OptimizeSkewedJoin
  * must split it — the skew-split arm of the 100 TB story, observed at
  * default settings rather than simulated with lowered thresholds.
  *
  * Usage (after `sbt Test/compile`):
  *   tools/runjvm.sh graft.tools.SkewUp <scaleDir> <outDir> [hotFrac=5]
  * (hotFrac = modulus: rows with l_orderkey % hotFrac == 0 go hot.)
  */
object SkewUp {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val hotMod = if (args.length > 2) args(2).toInt else 5
    val spark = graft.core.Graft.localSession()

    new java.io.File(outDir).mkdirs()
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "events", "documents", "embeddings")
    // unchanged tables: cheap directory copy (parquet dirs), no re-encode
    tables.foreach { t =>
      val src = Paths.get(s"$srcDir/$t.parquet")
      val dst = Paths.get(s"$outDir/$t.parquet")
      if (Files.exists(dst)) {
        Files.walk(dst).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
      Files.walk(src).forEach { p =>
        val rel = src.relativize(p)
        val target = dst.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(target)
        else Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
      }
      System.err.println(s"[skewup] copied $t")
    }

    val li = Tables.parquet(spark, s"$srcDir/lineitem.parquet")
    val hotKey = li.agg(min(col("l_orderkey"))).head.getLong(0)
    li.select(li.columns.map {
        case "l_orderkey" =>
          when(col("l_orderkey") % hotMod === 0, lit(hotKey))
            .otherwise(col("l_orderkey")).as("l_orderkey")
        case c => col(c)
      }.toIndexedSeq: _*)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    System.err.println(s"[skewup] wrote skewed lineitem (hot l_orderkey=$hotKey, 1/$hotMod of rows)")
    spark.stop()
  }
}
