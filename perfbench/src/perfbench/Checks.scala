package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One output check: its name, whether it passed, and what it saw. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A retrieval view as the checks see it: the feature view, the feature
  * column that copies its source `ts` (`fts`), and the one copying its
  * created ts, if any.
  */
final case class CheckedView(view: graft.FeatureView, fts: String, created: Option[String])

/** Output checks of the retrieval workloads. They run outside the timed
  * region and use no engine code: the reference answer is a brute-force
  * Spark SQL as-of join (range join → ROW_NUMBER → join back).
  */
object RetrievalChecks {

  /** Behaviour counters and checks of one retrieval output.
    *
    * @param sample predicate on the entity columns that picks the probes
    *               compared against the brute-force join
    */
  def run(spark: SparkSession, out: DataFrame, entity: DataFrame, views: Seq[CheckedView],
          filterByCreatedTs: Boolean, sample: Column): (Seq[Check], Map[String, Double]) = {
    val ets = col("event_ts")
    val leak = views.map { v =>
      val late = col(v.fts) > ets
      v.created.filter(_ => filterByCreatedTs).map(c => late || col(c) > ets).getOrElse(late)
    }.reduce(_ || _)
    val ttlViolation = views.filter(_.view.ttlSeconds > 0).map { v =>
      col(v.fts) < ets - expr(s"INTERVAL ${v.view.ttlSeconds} SECONDS")
    }.foldLeft(lit(false))(_ || _)
    val agg = out.agg(
      count(lit(1)),
      sum(when(leak, 1L).otherwise(0L)),
      sum(when(ttlViolation, 1L).otherwise(0L)),
      views.map(v => count(col(v.fts))).reduce(_ + _)).head()
    val (rows, leaks, ttl, matched) = (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    val probes = entity.count()
    val (missing, extra) = bruteForceDiff(spark, out, entity, views, filterByCreatedTs, sample)
    val checks = Seq(
      Check("rows_equal_probes", rows == probes, s"output $rows, probes $probes"),
      Check("no_future_features", leaks == 0, s"$leaks rows with a feature ts after event_ts"),
      Check("no_ttl_violations", ttl == 0, s"$ttl rows with a feature older than event_ts - ttl"),
      Check("matches_brute_force", missing == 0 && extra == 0,
        s"sampled rows: $missing missing, $extra unexpected"))
    val counters = Map(
      "pit.probe_rows" -> probes.toDouble,
      "pit.output_rows" -> rows.toDouble,
      "pit.match_ratio" -> (if (rows == 0) 0.0 else matched.toDouble / (rows * views.size)))
    (checks, counters)
  }

  /** Multiset difference (`exceptAll` both ways) between the output and a
    * brute-force as-of join, over the probes `sample` selects.
    */
  def bruteForceDiff(spark: SparkSession, out: DataFrame, entity: DataFrame,
                     views: Seq[CheckedView], filterByCreatedTs: Boolean,
                     sample: Column): (Long, Long) = {
    val probes = entity.filter(sample)
    probes.createOrReplaceTempView("bf_probes")
    val expected = views.zipWithIndex.foldLeft(probes) { case (acc, (cv, i)) =>
      val v = cv.view
      val key = v.joinKeys.head
      v.mappedSource.createOrReplaceTempView(s"bf_src$i")
      val feats = v.resolvedFeatures
      val order = (Seq(s"s.${v.tsCol} DESC") ++
        v.createdTsCol.map(c => s"s.$c DESC NULLS LAST") ++
        v.tieBreakCols.map(c => s"s.$c DESC")).mkString(", ")
      val cond = Seq(s"s.$key = p.$key", s"s.${v.tsCol} <= p.event_ts") ++
        (if (v.ttlSeconds > 0) Seq(s"s.${v.tsCol} >= p.event_ts - INTERVAL ${v.ttlSeconds} SECONDS")
         else Nil) ++
        v.createdTsCol.filter(_ => filterByCreatedTs).map(c => s"s.$c <= p.event_ts")
      val winners = spark.sql(
        s"""SELECT __k, __e, ${feats.mkString(", ")} FROM (
           |  SELECT p.$key AS __k, p.event_ts AS __e, ${feats.map("s." + _).mkString(", ")},
           |         ROW_NUMBER() OVER (PARTITION BY p.$key, p.event_ts ORDER BY $order) AS __rn
           |  FROM (SELECT DISTINCT $key, event_ts FROM bf_probes) p
           |  JOIN bf_src$i s ON ${cond.mkString(" AND ")}
           |) WHERE __rn = 1""".stripMargin)
      acc.join(winners, acc(key) === winners("__k") && acc("event_ts") === winners("__e"), "left")
        .drop("__k", "__e")
    }
    val cols = out.columns.map(col).toSeq
    val exp = expected.select(cols: _*)
    val act = out.filter(sample).select(cols: _*)
    (exp.exceptAll(act).count(), act.exceptAll(exp).count())
  }
}
