package perfbench

import graft.FeatureView
import graft.engine.{Backfill, Historical, Materialize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** What one timed op reports beside its wall time: the seconds spent inside
  * the engine's public calls and, for backfill, each partition's duration.
  */
final case class OpOut(callS: Double, partitionS: Seq[Double] = Nil)

/** Inputs written and opened; ready to run timed ops and check them. */
trait Opened {
  def turns: Long
  /** One op: the public engine calls plus a force of every result. */
  def op(rep: Int, sp: Spans): OpOut
  /** Output checks of the last op, and behaviour counters. */
  def check(sp: Spans): (Seq[Check], Map[String, Double])
}

/** A workload: an input spec and how to open the written inputs. */
trait Workload {
  def name: String
  def spec: Gen.Spec
  def byDay: Boolean
  def open(spark: SparkSession, dir: String, seed: Long): Opened
}

/** Spans around calls when tracing; a plain call otherwise. */
final class Spans(tracer: Option[Tracer]) {
  def apply[T](name: String, layer: String)(body: => T): T =
    tracer.fold(body)(_.span(name, layer)(body))
}

object Workloads {
  val all: Seq[Workload] = Seq(RetrievalSingle, RetrievalMultiviewHot, BackfillMaterialize)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The noop sink consumes every row of every column (a `count()` would
    * let Catalyst prune the retrieval away).
    */
  def forceNoop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Shared shape of the two retrieval workloads. */
  abstract class Retrieval extends Workload {
    val byDay = false
    def filterByCreatedTs: Boolean
    def views(t: DataFrame): Seq[CheckedView]

    def open(spark: SparkSession, dir: String, seed: Long): Opened = new Opened {
      private val t = spark.read.parquet(s"$dir/turns")
      private val entity = spark.read.parquet(s"$dir/probes")
      private val cvs = views(t)
      val turns: Long = t.count()

      // A warm-up op (rep 0) writes its output to parquet instead of the
      // noop sink; the checks read that copy. It is the same call on the
      // same inputs as every timed op, so no timed output is recomputed.
      def op(rep: Int, sp: Spans): OpOut = {
        val (out, callS) = timed(sp("engine.Historical.getHistoricalFeatures", "engine") {
          Historical.getHistoricalFeatures(entity, cvs.map(_.view),
            filterByCreatedTs = filterByCreatedTs)
        })
        if (rep == 0) out.write.mode("overwrite").parquet(s"$dir/checked")
        else sp("force.noop", "bench")(forceNoop(out))
        OpOut(callS)
      }

      def check(sp: Spans): (Seq[Check], Map[String, Double]) = sp("check.retrieval", "bench") {
        // about one conversation in 100, plus one probe in 1000 of the hot one
        val k = pmod(xxhash64(lit(seed), col("conv_id")), lit(100))
        val hot = col("conv_id") === Gen.HotConv &&
          pmod(xxhash64(lit(seed), col("event_ts")), lit(1000)) === 0
        RetrievalChecks.run(spark, spark.read.parquet(s"$dir/checked"), entity, cvs,
          filterByCreatedTs, (k === 0 && col("conv_id") =!= Gen.HotConv) || hot)
      }
    }
  }

  /** One `conv_id` view, 4 h TTL, no hot key: the merge kernel's
    * shuffle + sort + window does nearly all the work.
    */
  object RetrievalSingle extends Retrieval {
    val name = "retrieval_single"
    val spec = Gen.Spec(convs = 3000, turnsMin = 50, turnsMax = 350, hotShare = 0.0,
      users = 600, days = 14, probeEvery = 10, ttlSec = 4 * 3600L)
    val filterByCreatedTs = false
    def views(t: DataFrame): Seq[CheckedView] = Seq(CheckedView(FeatureView("turn",
      t.select(col("conv_id"), col("ts"), col("turn_idx"), col("role"),
        length(col("text")).as("text_len"), col("ts").as("turn_ts")),
      Seq("conv_id"), "ts", ttlSeconds = spec.ttlSec,
      features = Seq("turn_idx", "role", "text_len", "turn_ts")), "turn_ts", None))
  }

  /** Five views in two key groups over one transcript in which one
    * conversation holds 20% of the turns.
    */
  object RetrievalMultiviewHot extends Retrieval {
    val name = "retrieval_multiview_hot"
    val spec = Gen.Spec(convs = 1000, turnsMin = 50, turnsMax = 350, hotShare = 0.2,
      users = 200, days = 14, probeEvery = 10, ttlSec = 4 * 3600L)
    val filterByCreatedTs = true
    def views(t: DataFrame): Seq[CheckedView] = {
      val c = col("conv_id")
      val ts = col("ts")
      Seq(
        CheckedView(FeatureView("turn",
          t.select(c, ts, col("turn_idx"), length(col("text")).as("text_len"), ts.as("turn_ts")),
          Seq("conv_id"), "ts", ttlSeconds = spec.ttlSec,
          features = Seq("turn_idx", "text_len", "turn_ts")), "turn_ts", None),
        CheckedView(FeatureView("tool",
          t.filter(col("tool").isNotNull).select(c, ts, col("tool"), ts.as("tool_ts")),
          Seq("conv_id"), "ts", ttlSeconds = 24 * 3600L,
          features = Seq("tool", "tool_ts")), "tool_ts", None),
        CheckedView(FeatureView("role",
          t.select(c, ts, col("role"), ts.as("role_ts")),
          Seq("conv_id"), "ts", features = Seq("role", "role_ts")), "role_ts", None),
        CheckedView(FeatureView("created",
          t.select(c, ts, col("turn_idx").as("cr_turn_idx"), ts.as("cr_ts"),
            (ts + make_dt_interval(lit(0), lit(0), lit(0),
              pmod(xxhash64(c, col("turn_idx")), lit(600L)) + 1)).as("created_ts"))
            .withColumn("cr_created", col("created_ts")),
          Seq("conv_id"), "ts", createdTsCol = Some("created_ts"), ttlSeconds = 8 * 3600L,
          features = Seq("cr_turn_idx", "cr_ts", "cr_created")), "cr_ts", Some("cr_created")),
        CheckedView(FeatureView("user",
          t.select(col("user_id"), ts, c.as("user_conv"), col("turn_idx").as("user_turn_idx"),
            ts.as("user_ts")),
          Seq("user_id"), "ts", ttlSeconds = 2 * 3600L,
          features = Seq("user_conv", "user_turn_idx", "user_ts"),
          tieBreakCols = Seq("user_conv", "user_turn_idx")), "user_ts", None))
    }
  }

  /** `Backfill.run(dailyFeatureJob)` over a week of `ds` partitions into
    * a fresh output and checkpoint dir, then `Materialize.latestPerKey` of
    * the output written to parquet.
    */
  object BackfillMaterialize extends Workload {
    val name = "backfill_materialize"
    val spec = Gen.Spec(convs = 350, turnsMin = 50, turnsMax = 350, hotShare = 0.0,
      users = 80, days = 7, probeEvery = 10, ttlSec = 4 * 3600L)
    val byDay = true
    private val start = Timestamp.valueOf(Gen.BaseTs)
    private val end = new Timestamp(start.getTime + spec.days * 86400000L)

    def open(spark: SparkSession, dir: String, seed: Long): Opened = new Opened {
      private val source = spark.read.option("basePath", s"$dir/turns").parquet(s"$dir/turns")
      private var lastRep = -1
      val turns: Long = source.count()
      private def outDir(rep: Int) = s"$dir/out/r$rep"
      private def ckptDir(rep: Int) = s"$dir/ckpt/r$rep"
      private def matDir(rep: Int) = s"$dir/mat/r$rep"
      private var results: Seq[Backfill.PartitionResult] = Nil

      def op(rep: Int, sp: Spans): OpOut = {
        val (res, bfS) = timed(sp("engine.Backfill.run", "engine") {
          Backfill.run(spark, source, "ds", outDir(rep), ckptDir(rep),
            Backfill.dailyFeatureJob, lookbackPartitions = 1)
        })
        val out = Backfill.readOutput(spark, outDir(rep))
        val view = FeatureView("daily", out.select("conv_id", "ts", "session_id",
          "turn_in_session", "tool_cnt_w", "turn_cnt_w"), Seq("conv_id"), "ts")
        val (latest, matS) = timed(sp("engine.Materialize.latestPerKey", "engine") {
          Materialize.latestPerKey(view, start, end)
        })
        sp("force.parquet", "sources")(latest.write.parquet(matDir(rep)))
        lastRep = rep
        results = res
        OpOut(bfS + matS, res.map(_.durationMs / 1e3))
      }

      def check(sp: Spans): (Seq[Check], Map[String, Double]) = sp("check.backfill", "bench") {
        val parts = source.select("ds").distinct().count()
        val manifests = Files.list(Paths.get(ckptDir(lastRep))).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".json")).toList
        val complete = manifests.count(f =>
          new String(Files.readAllBytes(f), StandardCharsets.UTF_8).contains("\"status\": \"complete\""))
        val outRows = Backfill.readOutput(spark, outDir(lastRep)).count()
        val reported = results.map(_.outputRows).sum
        val mat = spark.read.parquet(matDir(lastRep))
        val matRows = mat.count()
        val matKeys = mat.select("conv_id").distinct().count()
        val keys = source.filter(col("ts") >= lit(start) && col("ts") <= lit(end))
          .select("conv_id").distinct().count()
        (Seq(
          Check("manifests_complete", manifests.size == parts && complete == parts,
            s"$complete complete of ${manifests.size} manifests, $parts partitions"),
          Check("rows_equal_input", outRows == turns && reported == turns,
            s"output $outRows (reported $reported), input $turns"),
          Check("materialized_keys", matRows == keys && matKeys == keys,
            s"materialized $matRows rows / $matKeys keys, distinct keys in range $keys")),
          Map.empty[String, Double])
      }
    }
  }
}
