package graft.pit

import graft.FeatureView
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, DateType}

/** Point-in-time ("as-of") join: for each entity row (join keys, event_ts),
  * attach the feature values of the **latest** source row with
  * `feature_ts <= event_ts` (and `feature_ts >= event_ts - ttl` when a TTL is
  * set), tie-broken by `created_ts` descending with nulls losing.
  *
  * Semantics match the reference's SQL template
  * MULTIPLE_FEATURE_VIEW_POINT_IN_TIME_JOIN (reference: infra/offline_stores/
  * contrib/spark_offline_store/spark.py:1709-1887 — J1..J7 in SURVEY.md §2.3)
  * and the dask dataframe program (infra/offline_stores/dask.py:1093-1270).
  *
  * Two physical strategies, neither of which is the reference's
  * (range join → row_number → join back):
  *
  *  1. **Merge kernel** ([[enrichMergeFused]], the default): the N ≥ 1
  *     views of one key group (same join keys, same time-axis type) union
  *     their feature rows with the probe rows; one shuffle + sort per key
  *     on (ts, side, created, tiebreaks) and one window pass of per-view
  *     running `last(payload, ignoreNulls)` let each probe row read every
  *     view's latest qualifying feature row directly. No join, no pair
  *     blow-up, no aggregation: cost is a single shuffle + sort of
  *     |features| + |probes| rows regardless of TTL width — the classic
  *     sort-merge as-of algorithm in pure Catalyst. The created-ts *filter*
  *     mode stays on this path: a feature row is visible to a probe iff
  *     `event_ts >= greatest(ts, created_ts)`, so ordering the stream by
  *     that visibility time and keeping a running
  *     `max_by(payload, (ts, created, tiebreaks))` (instead of `last`)
  *     yields the exact filtered winner under the same sort.
  *     [[graft.engine.Historical]] runs the kernel once per key group;
  *     [[enrich]] runs it for one view.
  *  2. **Join path** ([[enrichJoin]]): time-bucketed range inner join
  *     (bounded fan-out) → partial-aggregated max_by → left join back.
  *     Taken for keyless views and for hot-key salting (explicit
  *     replication).
  *
  * Shared scale levers (both paths):
  *   - scan bounds [min(event_ts) − ttl, max(event_ts)] derived from the
  *     entity frame are pushed into the source scan (reference
  *     offline_utils.py:168-189), plus derived date-partition predicates
  *   - only (keys, ts, created, features) survive into the shuffle — wide
  *     columns like `text` never shuffle unless they are requested features
  *   - join path: time-bucket equi-keys, optional hot-key salting
  *     (graft.skew.Salting), AQE skew join.
  */
object PointInTimeJoin {

  val DefaultBroadcastRows = 4000000L

  /** Enrich `entityDf` with the features of `view` as of each row's
    * `entityTsCol`. Preserves every entity row and column; feature columns
    * are null where no source row qualifies.
    *
    * @param filterByCreatedTs also require created_ts <= event_ts (anti-leak
    *        for backfilled rows; reference template spark.py:1799-1801).
    *        Entity rows whose only candidates are too new keep null features
    *        rather than being dropped (dask.py:1203-1226).
    */
  def enrich(
      entityDf: DataFrame,
      view: FeatureView,
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false,
      filterByCreatedTs: Boolean = false,
      broadcastThresholdRows: Long = DefaultBroadcastRows,
      saltBuckets: Int = 0,
      hotKeyRowThreshold: Long = 5000000L,
      precomputedBounds: Option[Row] = None
  ): DataFrame =
    if (saltBuckets > 1 || view.joinKeys.isEmpty)
      enrichJoin(entityDf, view, entityTsCol, fullFeatureNames,
        filterByCreatedTs, broadcastThresholdRows, saltBuckets,
        hotKeyRowThreshold, precomputedBounds)
    else
      enrichMergeFused(entityDf, Seq(view), entityTsCol, fullFeatureNames,
        filterByCreatedTs, precomputedBounds)

  /** One entity-frame (min, max) event-ts scan, shared across views of a
    * retrieval (reference computes it once per job too,
    * offline_utils.py:168-189; spark.py:1499-1535).
    */
  def entityBounds(entityDf: DataFrame, entityTsCol: String): Row =
    entityDf.agg(min(col(entityTsCol)).as("mn"), max(col(entityTsCol)).as("mx")).head()

  /** Shared prep: field mapping (P1), early projection, scan bounds from the
    * entity range (P4/P5), date-partition predicates (P6), probe dedup (J2).
    */
  private def prepare(
      entityDf: DataFrame, view: FeatureView, entityTsCol: String,
      precomputedBounds: Option[Row]
  ): (DataFrame, DataFrame) = {
    val keys = view.joinKeys
    val feats = view.resolvedFeatures
    val neededCols =
      (keys :+ view.tsCol) ++ view.createdTsCol.toSeq ++ feats ++
        view.tieBreakCols ++ view.datePartitionCol.toSeq
    var src = view.mappedSource.select(neededCols.distinct.map(col): _*)
    // SQL join semantics for NULL keys, on BOTH physical strategies: a
    // null-key source row matches no probe (NULL = NULL is never true in
    // the reference's join template), so drop it here — otherwise the
    // merge path's window partitioning would group null keys together and
    // attach features the join path (and the reference) never would. A
    // null-key PROBE row still flows through and comes back with null
    // features (left-join semantics). Also a free scan predicate.
    if (keys.nonEmpty)
      src = src.filter(keys.map(col(_).isNotNull).reduce(_ && _))

    val bounds: Row = precomputedBounds.getOrElse(entityBounds(entityDf, entityTsCol))
    val lowerTs =
      if (view.ttlSeconds > 0 && !bounds.isNullAt(0))
        Some(lit(bounds.get(0)) - expr(s"INTERVAL ${view.ttlSeconds} SECONDS"))
      else None
    if (!bounds.isNullAt(1))
      src = src.filter(col(view.tsCol) <= lit(bounds.get(1)))
    lowerTs.foreach(lo => src = src.filter(col(view.tsCol) >= lo))
    view.datePartitionCol.foreach { dpc =>
      // the pruning below compares partition STRINGS — chronological only
      // for year-first, most-significant-first formats; "MM-dd-yyyy" would
      // silently prune QUALIFYING partitions (December sorts above January
      // of the next year), returning null features with no error
      val sig = "yMdHms"
      // strip single-quoted literal sections first (a literal like
      // 'month' contains pattern letters that are NOT fields — e.g.
      // yyyy-'month'-MM is a valid most-significant-first format whose
      // literal 'm' would otherwise spuriously fail the order check);
      // '' (escaped quote) matches the same regex and drops harmlessly
      val fieldsOnly = view.datePartitionFormat.replaceAll("'[^']*'", "")
      val order = fieldsOnly.filter(sig.contains(_)).distinct
      require(order.nonEmpty && order.head == 'y' &&
        sig.filter(order.contains(_)) == order,
        s"datePartitionFormat '${view.datePartitionFormat}' is not " +
          "most-significant-first (year, month, day, …); lexicographic " +
          "partition pruning would silently drop qualifying partitions")
      if (!bounds.isNullAt(1))
        src = src.filter(
          col(dpc) <= date_format(lit(bounds.get(1)), view.datePartitionFormat))
      lowerTs.foreach(lo =>
        src = src.filter(col(dpc) >= date_format(lo, view.datePartitionFormat)))
    }

    val probe = entityDf.select((keys :+ entityTsCol).map(col): _*)
    (src, probe)
  }

  /** Time axis of the merge for `view`: the entity ts type, except that a
    * DateType entity ts promotes to the view's feature-ts type. Casting
    * feature times DOWN to a date would truncate them to midnight and leak
    * same-day future rows; the join path's `fts <= ets` promotes too, and
    * the two strategies must agree. Views sharing join keys and axis type
    * form one key group: one pass of [[enrichMergeFused]].
    */
  private[graft] def axisType(entityDf: DataFrame, entityTsCol: String, view: FeatureView): DataType =
    entityDf.schema(entityTsCol).dataType match {
      case DateType => view.mappedSource.schema(view.tsCol).dataType
      case t => t
    }

  /** The merge kernel (see object doc, strategy 1): the N ≥ 1 views of one
    * key group enrich the entity frame through ONE union → ONE shuffle/sort
    * → ONE window pass. N separate passes would cost N full shuffles of the
    * probe+feature stream plus, for every view after the first, a join-back
    * (the accumulated frame is no longer slim).
    *
    * Ordering per key: (visibility ts asc, side asc [features before probes
    * at equal ts — `<=` semantics], view-0 ord…, view-N ord… [created asc
    * nulls-first so nulls lose, then tiebreaks asc]). Each view contributes
    * its own payload struct and order columns, null on every other view's
    * rows and on probe rows: two rows of the SAME view order among
    * themselves by that view's ord columns (every other view's are null on
    * both, comparing equal), and other views' rows are invisible to view
    * i's running `last(__payload_i, ignoreNulls)` — so at each probe row it
    * is exactly view i's max_by(ts, created, tiebreaks) winner of the
    * prefix. The payload is one struct so a feature row's columns travel
    * atomically (a legitimately-null feature value must NOT fall through to
    * an older row). TTL is applied afterwards, per view: the latest winner
    * is the only candidate — anything older is further below the window's
    * lower bound.
    *
    * Created-ts filter mode (`filterByCreatedTs`, reference template
    * spark.py:1799-1801 / dask masking dask.py:1203-1226): a view with a
    * created column gets the visibility time `greatest(ts, created_ts)` —
    * `__t <= event_ts` is then exactly `ts <= event_ts AND created_ts <=
    * event_ts`. That stream is no longer in winner order, so the view's
    * running `last` becomes a running `max_by(payload_i, (ts, created,
    * tiebreaks))` — still one sort, one pass. Both winner kinds coexist in
    * one window pass because every view's payload and order columns are
    * null on every other view's rows.
    *
    * Precondition (enforced): one key group — identical non-empty join
    * keys and one [[axisType]] across `views`.
    */
  def enrichMergeFused(
      entityDf: DataFrame,
      views: Seq[FeatureView],
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false,
      filterByCreatedTs: Boolean = false,
      precomputedBounds: Option[Row] = None
  ): DataFrame = {
    val keys = views.head.joinKeys
    // Slim fast path: when the entity frame is exactly (keys, event_ts),
    // every probe row (duplicates included — they are adjacent and read
    // the same running winners) already flows through the window pass, so
    // its output IS the result: no join-back, no second entity scan.
    val slim = entityDf.columns.toSet == (keys :+ entityTsCol).toSet
    val latest = mergeLatest(entityDf, views, entityTsCol, fullFeatureNames,
      filterByCreatedTs, precomputedBounds, keepDuplicateProbes = slim)
    if (slim)
      latest.select((entityDf.columns.toSeq ++ latest.columns.drop(keys.size + 1)).map(col): _*)
    else entityDf.join(latest, keys :+ entityTsCol, "left")
  }

  /** One kernel pass over a key group, before assembly: the join keys, the
    * entity ts and every view's features — one row per probe row with
    * `keepDuplicateProbes`, else one per distinct (keys, entity ts), ready
    * for a left join back onto the entity frame.
    */
  private[graft] def mergeLatest(
      entityDf: DataFrame,
      views: Seq[FeatureView],
      entityTsCol: String,
      fullFeatureNames: Boolean,
      filterByCreatedTs: Boolean,
      precomputedBounds: Option[Row],
      keepDuplicateProbes: Boolean
  ): DataFrame = {
    val keys = views.head.joinKeys
    val etsType = axisType(entityDf, entityTsCol, views.head)
    require(keys.nonEmpty && views.forall(v =>
      v.joinKeys == keys && axisType(entityDf, entityTsCol, v) == etsType),
      "merge kernel requires one key group: identical non-empty join keys " +
        "and one time-axis type across views")
    val bounds = precomputedBounds.getOrElse(entityBounds(entityDf, entityTsCol))
    val prepared = views.map(v => prepare(entityDf, v, entityTsCol, Some(bounds)))
    val minTs = lit("1900-01-01 00:00:00").cast("timestamp")

    // Each view's rows carry only its own columns: the payload, the sort
    // columns (created nulls-lose, tiebreaks) and, when created-filtered,
    // the winner-order struct of its running max_by. unionByName fills
    // every other view's columns (and the probe rows') with typed nulls.
    val ordNames = views.zipWithIndex.map { case (v, i) =>
      (v.createdTsCol.toSeq ++ v.tieBreakCols).indices.map(k => s"__ord_${i}_$k")
    }
    val createdFiltered = views.map(v => filterByCreatedTs && v.createdTsCol.nonEmpty)
    val fSides = views.indices.map { i =>
      val v = views(i)
      val fts = col(v.tsCol).cast(etsType)
      val ords = v.createdTsCol.map(c => coalesce(col(c), minTs)).toSeq ++
        v.tieBreakCols.map(col)
      // created-filter mode: the visibility time greatest(ts, created) is
      // the merge axis, and NULL-created rows are hidden (SQL semantics of
      // the reference's `created <= entity_ts` join predicate; dask's NaT
      // compare masks them too — greatest() alone would skip the null and
      // leave the row visible; PropertySpec pins the join-path equivalence)
      val (src, visTime) =
        if (createdFiltered(i)) {
          val c = col(v.createdTsCol.get)
          (prepared(i)._1.filter(c.isNotNull), greatest(col(v.tsCol), c).cast(etsType))
        } else (prepared(i)._1, fts)
      src.select(keys.map(col) ++ Seq(visTime.as("__t"), lit(0).as("__p"),
        struct((v.resolvedFeatures.map(col) :+ fts.as("__fts")): _*).as(s"__payload_$i")) ++
        ords.zip(ordNames(i)).map { case (e, n) => e.as(n) } ++
        (if (createdFiltered(i))
          Seq(struct((fts +: ords).zipWithIndex.map { case (e, k) => e.as(s"_$k") }: _*)
            .as(s"__mord_$i"))
        else Nil): _*)
    }
    val pSide = prepared.head._2.select(keys.map(col) ++ Seq(
      col(entityTsCol).cast(etsType).as("__t"), lit(1).as("__p"),
      col(entityTsCol).as("__ets")): _*)
    val unioned = (fSides :+ pSide).reduce(_.unionByName(_, allowMissingColumns = true))

    val sortCols = Seq(col("__t").asc, col("__p").asc) ++
      ordNames.flatten.map(col(_).asc_nulls_first)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // per-view running winner: the sorted-stream `last` normally; a running
    // max_by over the view's own (ts, created, tiebreaks) struct in
    // created-filter mode, where the stream is visibility-ordered rather
    // than winner-ordered (other views' rows and probes carry a null ord
    // and are skipped)
    val withBests = views.indices.foldLeft(unioned) { (acc, i) =>
      acc.withColumn(s"__best_$i",
        if (createdFiltered(i)) max_by(col(s"__payload_$i"), col(s"__mord_$i")).over(w)
        else last(col(s"__payload_$i"), ignoreNulls = true).over(w))
    }
    val filled =
      if (keepDuplicateProbes) withBests.filter(col("__p") === 1)
      else {
        // duplicate probes are adjacent under the sort (all ord columns
        // null); mark all but the first with a lag over the same window
        // spec — one physical sort serves every window function here. The
        // caller's join-back restores their multiplicity.
        val wLag = Window.partitionBy(keys.map(col): _*).orderBy(sortCols: _*)
        withBests
          .withColumn("__dupProbe",
            col("__p") === 1 && lag(col("__p"), 1).over(wLag) === 1 &&
              lag(col("__t"), 1).over(wLag) === col("__t"))
          .filter(col("__p") === 1 && !coalesce(col("__dupProbe"), lit(false)))
      }
    val qualified = views.zipWithIndex.foldLeft(filled) { case (acc, (v, i)) =>
      if (v.ttlSeconds > 0)
        acc.withColumn(s"__best_$i",
          when(col(s"__best_$i.__fts") >=
            col("__ets") - expr(s"INTERVAL ${v.ttlSeconds} SECONDS"),
            col(s"__best_$i")))
      else acc
    }
    val featCols = views.zipWithIndex.flatMap { case (v, i) =>
      v.resolvedFeatures.map(f =>
        col(s"__best_$i." + f).as(outName(v, f, fullFeatureNames)))
    }
    qualified.select(keys.map(col) ++ Seq(col("__ets").as(entityTsCol)) ++ featCols: _*)
  }

  /** The bucketed range-join path (see object doc, strategy 2). */
  def enrichJoin(
      entityDf: DataFrame,
      view: FeatureView,
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false,
      filterByCreatedTs: Boolean = false,
      broadcastThresholdRows: Long = DefaultBroadcastRows,
      saltBuckets: Int = 0,
      hotKeyRowThreshold: Long = 5000000L,
      precomputedBounds: Option[Row] = None
  ): DataFrame = {
    val keys = view.joinKeys
    val feats = view.resolvedFeatures
    val (src, probeAll) = prepare(entityDf, view, entityTsCol, precomputedBounds)
    // J2: deduplicated probe side — one row per (keys, event_ts).
    val probeRaw = probeAll.dropDuplicates(keys :+ entityTsCol)

    // Hot-conversation salting (north rule; graft.skew.Salting): split keys
    // with > hotKeyRowThreshold source rows into saltBuckets sub-keys. The
    // feature side spreads by xxhash64(ts); the probe side replicates per
    // salt. The groupBy below re-merges across salts (max_by is
    // order-associative), so results are byte-identical to the unsalted
    // plan — SaltingSpec asserts this.
    val saltKeys = if (saltBuckets > 1 && keys.nonEmpty) Seq("__salt") else Nil
    val (srcS, probeS) =
      if (saltKeys.nonEmpty) {
        val hot = graft.skew.Salting.detectHotKeys(
          src.select(keys.map(col): _*), keys, hotKeyRowThreshold, saltBuckets)
        (graft.skew.Salting.saltLarge(src, hot, keys, col(view.tsCol)),
          graft.skew.Salting.saltSmall(probeRaw, hot, keys))
      } else (src, probeRaw)

    // Bounded-fan-out range join (the classic time-bucketing rewrite — OSS
    // Spark has no range-join optimization): with a TTL, add a coarse
    // time-bucket equi-key — feature rows at floor(ts/ttl), probe rows
    // exploded over the 2 buckets covering [event_ts − ttl, event_ts].
    // SMJ/HashJoin then pairs only rows within 2·ttl of each other instead
    // of EVERY (turn, probe) pair of a conversation. Theta conditions below
    // keep the semantics exact.
    val bucketKeys = if (view.ttlSeconds > 0) Seq("__tb") else Nil
    val bucketUs = view.ttlSeconds * 1000000L
    val (srcB, probeB) =
      if (bucketKeys.nonEmpty) {
        (srcS.withColumn("__tb",
          floor(unix_micros(col(view.tsCol).cast("timestamp")) / bucketUs)),
          probeS.withColumn("__tb",
            explode(sequence(
              floor((unix_micros(col(entityTsCol).cast("timestamp")) - bucketUs) / bucketUs),
              floor(unix_micros(col(entityTsCol).cast("timestamp")) / bucketUs)))))
      } else (srcS, probeS)

    val probe =
      if (saltKeys.isEmpty && bucketKeys.isEmpty &&
        shouldBroadcast(entityDf, broadcastThresholdRows))
        broadcast(probeB)
      else probeB

    // J3: equi+theta range join. The theta condition seeds the fold — a
    // keyless view with no TTL has no equi keys at all and must still
    // plan (an empty .reduce would throw).
    val fts = col("__src." + view.tsCol)
    val ets = col("__probe." + entityTsCol)
    var cond: Column = (keys ++ saltKeys ++ bucketKeys)
      .map(k => col("__src." + k) === col("__probe." + k))
      .foldLeft(fts <= ets)(_ && _)
    if (view.ttlSeconds > 0)
      cond = cond && (fts >= ets - expr(s"INTERVAL ${view.ttlSeconds} SECONDS"))
    view.createdTsCol.foreach { c =>
      if (filterByCreatedTs) cond = cond && (col("__src." + c) <= ets)
    }
    val joined = srcB.alias("__src").join(probe.alias("__probe"), cond, "inner")

    // J4+J5+J6 fused: latest-row selection as a single partial-aggregable
    // max_by instead of row_number + join-back. Ordering: (ts desc, created
    // desc nulls-last, tiebreaks desc) — nulls must LOSE ties, matching
    // dask's na_position="first", keep="last" (dask.py:1240-1268), hence the
    // coalesce to -infinity.
    val minTs = lit("1900-01-01 00:00:00").cast("timestamp")
    val ordCols: Seq[Column] =
      fts +:
        (view.createdTsCol.map(c => coalesce(col("__src." + c), minTs)).toSeq ++
          view.tieBreakCols.map(c => col("__src." + c)))
    val ord = struct(ordCols: _*)
    val payload = struct(feats.map(f => col("__src." + f).as(f)): _*)
    val latest = joined
      .groupBy((keys.map(k => col("__probe." + k)) :+ ets): _*)
      .agg(max_by(payload, ord).as("__best"))
      .select(
        keys.map(col) ++ Seq(col(entityTsCol)) ++
          feats.map(f => col("__best." + f).as(outName(view, f, fullFeatureNames))): _*)

    // J7: final assembly — every entity row and column survives.
    entityDf.join(latest, keys :+ entityTsCol, "left")
  }

  private[graft] def outName(view: FeatureView, feat: String, full: Boolean): String =
    if (full) s"${view.name}__$feat" else feat

  private def shouldBroadcast(df: DataFrame, thresholdRows: Long): Boolean = {
    // Cheap static heuristic: trust Catalyst/AQE unless the caller forces it.
    // We only auto-broadcast when the plan's row-count estimate is known and
    // small; otherwise the join still benefits from AQE's runtime broadcast.
    try {
      val stats = df.queryExecution.optimizedPlan.stats
      stats.rowCount.exists(_ <= BigInt(thresholdRows)) ||
      stats.sizeInBytes <= 64L * 1024 * 1024
    } catch { case _: Throwable => false }
  }
}
