package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own seeded input generator. It writes transcript turns
  * `(conv_id, turn_idx, role, text, tool, ts)` plus `ds` (day of `ts`) and
  * `user_id`, and an entity (probe) frame derived from them. Every value is
  * a pure function of the seed and the row's position (xxhash64), so one
  * seed always gives the same rows. It shares no code with the engine's own
  * generators, so engine changes cannot change the benchmark's inputs.
  */
object Gen {

  /** @param convs      ordinary conversations
    * @param turnsMin   fewest turns in an ordinary conversation
    * @param turnsMax   most turns in an ordinary conversation
    * @param hotShare   share of all turns held by one extra conversation
    *                   (`c0000000`); 0 = no hot conversation
    * @param users      distinct `user_id`s over the ordinary conversations
    * @param days       days the transcript spans (one `ds` partition each)
    * @param probeEvery about one probe per this many turns
    * @param ttlSec     the TTL the probe mix is placed against
    */
  final case class Spec(
      convs: Int,
      turnsMin: Int,
      turnsMax: Int,
      hotShare: Double,
      users: Int,
      days: Int,
      probeEvery: Int,
      ttlSec: Long
  ) {
    def hotTurns: Long =
      if (hotShare <= 0) 0L
      else math.round(hotShare / (1 - hotShare) * convs * (turnsMin + turnsMax) / 2.0)
  }

  val BaseTs = "2024-03-01 00:00:00"
  val HotConv = "c0000000"
  private val Lorem =
    ("the agent reads the log then calls a tool and the user asks again why the " +
      "answer changed between two runs of the same query over the same data so " +
      "the assistant explains the cache the plan and the shuffle and then it " +
      "proposes a smaller test that shows the difference between the two paths ") * 2

  private def h(seed: Long, parts: Column*): Column = xxhash64((lit(seed) +: parts): _*)
  private def bucket(seed: Long, n: Long, parts: Column*): Column = pmod(h(seed, parts: _*), lit(n))

  /** Transcript turns of one spec (lazy; deterministic in `seed`). */
  def transcript(spark: SparkSession, spec: Spec, seed: Long, files: Int): DataFrame = {
    val baseUs = java.sql.Timestamp.valueOf(BaseTs).getTime * 1000L
    val hot = spec.hotTurns
    val span = (spec.days - 1).toLong * 86400L
    val i = col("id")
    val convs = spark.range(0, spec.convs + 1L, 1, files).select(
      i,
      format_string("c%07d", i).as("conv_id"),
      when(i === 0, lit("u_hot"))
        .otherwise(format_string("u%05d", bucket(seed, spec.users, i, lit(2)))).as("user_id"),
      when(i === 0, lit(hot))
        .otherwise(lit(spec.turnsMin.toLong) +
          bucket(seed, spec.turnsMax - spec.turnsMin + 1L, i, lit(1))).as("n"),
      when(i === 0, lit(baseUs))
        .otherwise(lit(baseUs) + bucket(seed, span, i, lit(3)) * 1000000L).as("start_us"),
      // ordinary conversations: a turn a minute with an hour's break every
      // 40 turns (so sessionize sees several sessions); the hot one is
      // packed evenly into 95% of the span
      when(i === 0, lit(math.max(2L, (span * 950000L) / math.max(hot, 1L))))
        .otherwise(lit(60000000L)).as("step_us"))
      .filter(col("n") > 0)
    val t = col("turn_idx")
    val kind = bucket(seed, 100, i, t, lit(5))
    convs
      .select(col("*"), explode(sequence(lit(0L), col("n") - 1)).as("turn_idx"))
      .select(
        col("conv_id"),
        t.cast("int").as("turn_idx"),
        when(t % 2 === 0, lit("user")).when(kind < 25, lit("tool"))
          .otherwise(lit("assistant")).as("role"),
        substring(lit(Lorem), (bucket(seed, 200, i, t, lit(6)) + 1).cast("int"),
          (bucket(seed, 100, i, t, lit(7)) + 20).cast("int")).as("text"),
        when(t % 2 =!= 0 && kind < 25,
          element_at(array(lit("search"), lit("code"), lit("browse"), lit("sql")),
            (bucket(seed, 4, i, t, lit(8)) + 1).cast("int"))).as("tool"),
        timestamp_micros(col("start_us") + t * col("step_us") +
          bucket(seed, Long.MaxValue, i, t, lit(9)) % col("step_us") +
          when(i === 0, lit(0L)).otherwise((t / 40).cast("long") * 3600000000L)).as("ts"),
        col("user_id"))
      .withColumn("ds", date_format(col("ts"), "yyyy-MM-dd"))
  }

  /** Probe (entity) rows over a written transcript: about one per
    * `probeEvery` turns. Columns: `conv_id`, `user_id`, `event_ts`. The
    * probe's hash bucket (0-99) places it:
    *  - 0-9:   event_ts equals the turn's ts
    *  - 10-19: event_ts − ttl equals the turn's ts (the inclusive TTL edge)
    *  - 20-24: one second beyond that edge
    *  - 25-29: a key no view holds
    *  - 30-99: 1 s to 2 h after the turn's ts
    */
  def probes(turns: DataFrame, spec: Spec, seed: Long): DataFrame = {
    val k = bucket(seed, 100, col("conv_id"), col("turn_idx"), lit(11))
    val ttlUs = spec.ttlSec * 1000000L
    val tsUs = unix_micros(col("ts"))
    val offUs =
      when(k < 10, lit(0L))
        .when(k < 20, lit(ttlUs))
        .when(k < 25, lit(ttlUs + 1000000L))
        .otherwise((bucket(seed, 7200L, col("conv_id"), col("turn_idx"), lit(12)) + 1) * 1000000L)
    val unknown = k >= 25 && k < 30
    turns
      .filter(bucket(seed, spec.probeEvery, col("conv_id"), col("turn_idx"), lit(10)) === 0)
      .select(
        when(unknown, concat(lit("x"), col("conv_id"))).otherwise(col("conv_id")).as("conv_id"),
        when(unknown, concat(lit("x"), col("user_id"))).otherwise(col("user_id")).as("user_id"),
        timestamp_micros(tsUs + offUs).as("event_ts"))
  }

  /** Order-independent content hash of a frame: the sum of every row's
    * xxhash64 over all columns, as an exact decimal.
    */
  def contentHash(df: DataFrame): String =
    df.select(sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head().get(0).toString

  /** Write a spec's transcript and probes under `dir` (`turns/`, `probes/`).
    * `byDay` writes the transcript partitioned by `ds`.
    */
  def write(spark: SparkSession, spec: Spec, seed: Long, dir: String,
            files: Int, byDay: Boolean): Unit = {
    val t = transcript(spark, spec, seed, files)
    if (byDay)
      t.repartition(col("ds")).sortWithinPartitions("conv_id", "turn_idx")
        .write.partitionBy("ds").parquet(s"$dir/turns")
    else
      t.repartition(files, col("conv_id"), col("turn_idx"))
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.parquet(s"$dir/turns")
    val written = spark.read.parquet(s"$dir/turns")
    probes(written, spec, seed).repartition(files, col("conv_id"), col("event_ts"))
      .sortWithinPartitions("conv_id", "event_ts")
      .write.parquet(s"$dir/probes")
  }
}
