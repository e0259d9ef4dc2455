package perfbench

import graft.engine.Historical
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-test of the benchmark's own machinery, on a small input:
  *  - the generator gives the same content hash twice for one seed, and a
  *    different one for another seed;
  *  - the retrieval checks pass on the engine's output and flag each seeded
  *    defect: a dropped row, a duplicated row and a leaked (future) row.
  * Returns the process exit code: 0 when every expectation holds.
  */
object SelfTest {
  private val spec = Gen.Spec(convs = 60, turnsMin = 20, turnsMax = 80, hotShare = 0.2,
    users = 20, days = 3, probeEvery = 5, ttlSec = 4 * 3600L)

  def run(spark: SparkSession, seed: Long, work: String): Int = {
    var failures = 0
    def expect(what: String, ok: Boolean): Unit = {
      println(s"perfbench selftest: ${if (ok) "ok" else "FAILED"}: $what")
      if (!ok) failures += 1
    }
    def hashes(dir: String) =
      (Gen.contentHash(spark.read.parquet(s"$dir/turns")),
        Gen.contentHash(spark.read.parquet(s"$dir/probes")))

    Gen.write(spark, spec, seed, s"$work/a", files = 3, byDay = false)
    Gen.write(spark, spec, seed, s"$work/b", files = 3, byDay = false)
    Gen.write(spark, spec, seed + 1, s"$work/c", files = 3, byDay = false)
    val (ha, hb, hc) = (hashes(s"$work/a"), hashes(s"$work/b"), hashes(s"$work/c"))
    expect(s"same seed, same content hash ($ha)", ha == hb)
    expect("another seed, another content hash", ha._1 != hc._1 && ha._2 != hc._2)

    val t = spark.read.parquet(s"$work/a/turns")
    val entity = spark.read.parquet(s"$work/a/probes")
    val views = Workloads.RetrievalMultiviewHot.views(t)
    Historical.getHistoricalFeatures(entity, views.map(_.view), filterByCreatedTs = true)
      .write.parquet(s"$work/a/out")
    val out = spark.read.parquet(s"$work/a/out")
    def check(df: DataFrame): Set[String] =
      RetrievalChecks.run(spark, df, entity, views, filterByCreatedTs = true, lit(true))
        ._1.filterNot(_.ok).map(_.name).toSet

    expect("checks pass on the engine's output", check(out).isEmpty)
    val one = out.filter(col("turn_ts").isNotNull).orderBy("conv_id", "event_ts").limit(1)
    val rest = out.exceptAll(one)
    val leaked = one.withColumn("turn_ts", col("event_ts") + expr("INTERVAL 60 SECONDS"))
    Seq(
      "dropped row" -> (rest, Set("rows_equal_probes", "matches_brute_force")),
      "duplicated row" -> (out.unionByName(one), Set("rows_equal_probes", "matches_brute_force")),
      "leaked row" -> (rest.unionByName(leaked), Set("no_future_features", "matches_brute_force"))
    ).foreach { case (defect, (df, want)) =>
      val flagged = check(df)
      expect(s"$defect flagged by ${flagged.toSeq.sorted.mkString(", ")}", want.subsetOf(flagged))
    }
    if (failures == 0) 0 else 1
  }
}
