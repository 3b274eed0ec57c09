package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, IntegerType, LongType, ShortType}

/** INCREMENTALLY-MAINTAINED AGGREGATES over a [[Snapshot]] table —
  * the materialized-view maintenance loop every reporting pipeline
  * writes by hand, done once and made crash-safe. A view is a
  * `GROUP BY keyCols` with `count(*)` plus `sum`/`count` per value
  * column (avg = sum/cnt at read); [[create]] computes it ONCE from
  * the table's pinned current version, and every [[refresh]] after
  * that consumes ONLY the table's net row changes since the last
  * refresh ([[Snapshot.readChangesBetween]] — the chain-walk CDC, so
  * appends cost their fresh files, MoR deletes cost their pruned
  * candidates, and an interleaved compaction costs NOTHING) and folds
  * the per-key delta into the stored state. At 100 TB this is the
  * difference between re-aggregating the table per refresh and paying
  * O(changed rows) + O(touched keys): a day's appends against a
  * year's table refresh in append-sized time.
  *
  * count/sum are fully SELF-MAINTAINABLE: invertible under the CDC's
  * insert/delete row algebra (+row / -row), so deletes fold without
  * ever rescanning the base table. min/max (`minMaxCols`) and
  * approx-distinct (`distinctCols`, a Datasketches HLL sketch per
  * key) are HALF-maintainable — monotone under inserts (least/
  * greatest folds; sketch union) but not invertible under deletes (a
  * deleted extremum or distinct member needs its group re-derived) —
  * so the refresh splits touched keys by the delta itself: keys whose
  * window was INSERT-ONLY fold incrementally like count/sum, and keys
  * any delete touched get a TARGETED GROUP RESCAN — the base table
  * read at the window's pinned end, semi-joined to exactly those
  * keys, re-aggregated. Cost stays bounded by the REscanned groups'
  * rows, never the table; with nothing extended configured the rescan
  * machinery never engages and every key folds incrementally.
  *
  * ==Layout under `mv`==
  *  - `state/` — a [[Snapshot]] table of the aggregate rows keyed by
  *    `__mv_key` (the null-safe concatenation of the key columns,
  *    stats+Bloom tracked, so the refresh's fold reads the state
  *    through point-pruned file scans);
  *  - `config.json` — keys + value columns + optional row filter,
  *    pinned at create;
  *  - `baseline.json` — the last table version folded into state.
  *
  * ==Crash safety (at-least-once, exactly-once effect)==
  * A refresh is one WRITE-AHEAD-pinned window folded by ONE tagged
  * state commit. The window `(since, until]` lands in `intent.json`
  * BEFORE any compute; a replay whose baseline still equals the
  * intent's `since` resumes that exact window even if the base table
  * advanced meanwhile (recomputing against a newer head would
  * double-apply the already-folded prefix). The fold commits as a
  * single merge-on-read upsert tagged `mv-<since>-<until>`, checked
  * FIRST on every refresh: if the tag already landed (crash after
  * the commit, before the baseline write), the replay only advances
  * the baseline — it must NOT recompute the fold, because the delta
  * re-derived against already-folded state would be wrong (that is
  * why vanished keys become `n_rows = 0` TOMBSTONE rows inside the
  * same commit, filtered at [[read]], rather than a second delete
  * commit: one commit ⇒ no partially-applied window exists).
  * Tombstones are reclaimed by [[vacuum]] (safe at any point: a
  * reclaimed key that later re-enters does so through the normal
  * new-key path, and a replayed window never recomputes a fold, so
  * it cannot miss a vacuumed-away old value).
  */
object Materialized {

  private val Sep = "\u001f"

  /** Fold joins broadcast their touched-key side only below this many
    * delta keys (512k ≈ tens of MB of state rows at typical widths):
    * the hint is gated on the OBSERVED delta count, never an estimate,
    * so a bulk-erasure refresh touching most of the key space degrades
    * to shuffle joins instead of an executor-OOM broadcast. */
  private val BroadcastKeyCap = 1L << 19

  /** `config.json`: the view's definition, pinned at [[create]]. */
  private[sources] final case class Config(keys: Seq[String],
                                           vals: Seq[String],
                                           filter: String = "",
                                           minmax: Seq[String] = Nil,
                                           distinct: Seq[String] = Nil,
                                           derives: Seq[Derive] = Nil) {
    def extended: Seq[String] = (minmax ++ distinct).distinct
  }

  /** A named row-local SQL column ([[create]]'s `deriveCols`). */
  private[sources] final case class Derive(name: String, sql: String)

  /** `intent.json`: the refresh window pinned before any compute. */
  private final case class Intent(since: Long, until: Long)

  /** The synthetic merge key: null-safe, collision-free across
    * null/empty ("v:" prefix vs the bare null sentinel). Key values
    * containing the 0x1F unit separator are the caller's documented
    * exclusion (as with any composite-key encoding). */
  private def mvKey(keys: Seq[String]) =
    concat_ws(Sep, keys.map(k =>
      coalesce(concat(lit("v:"), col(k).cast("string")),
        lit("null"))): _*)

  /** The view's row preparation, applied identically wherever table
    * rows enter the fold (create seed, CDC delta, targeted rescan):
    * DERIVED COLUMNS first (row-local SQL expressions, in declared
    * order so a derive may reference an earlier one — the time-bucket
    * rollup shape: `day <- date_trunc('day', ts)` as a GROUP key the
    * table never stored), then the row predicate (which may reference
    * the derived columns). Both must be row-local: an expression over
    * other rows cannot fold from a row delta. */
  private def prep(df: DataFrame, c: Config): DataFrame = {
    val derived = c.derives.foldLeft(df)((d, x) =>
      d.withColumn(x.name, expr(x.sql)))
    if (c.filter.isEmpty) derived
    else derived.filter(expr(c.filter))
  }

  /** The stored type of `sum_<v>`: integral columns sum EXACTLY as
    * long (a double mantissa silently drops low bits once a group's
    * sum passes 2^53 — certain at 100 TB), everything else (float/
    * double/decimal) as double. Derived consistently from the source
    * column's type wherever rows enter the fold, so seed, delta, and
    * rescan always agree on the state schema. */
  private def sumTypeOf(dt: DataType): DataType = dt match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case _ => DoubleType
  }

  private def sumZero(t: DataType): Column = lit(0).cast(t)

  /** The state row's aggregate expressions over raw table rows —
    * shared by the create seed and the targeted group rescan so both
    * produce byte-identical shapes. `rowType` resolves a value
    * column's type on the INPUT frame (post-derive). */
  private def aggExprs(c: Config, rowType: String => DataType) =
    (count(lit(1)).as("n_rows") +:
      c.vals.flatMap { v =>
        val t = sumTypeOf(rowType(v))
        Seq(
          coalesce(sum(col(v).cast(t)), sumZero(t)).as(s"sum_$v"),
          count(col(v)).as(s"cnt_$v"))
      }) ++
      c.minmax.flatMap(m => Seq(
        min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m"))) ++
      c.distinct.map(d => hll_sketch_agg(col(d)).as(s"hll_$d"))

  private def stateAgg(df: DataFrame, c: Config): DataFrame = {
    val p = prep(df, c)
    val exprs = aggExprs(c, v => p.schema(v).dataType)
    p.groupBy(c.keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
  }

  private[sources] def configOf(spark: SparkSession, mv: String): Config =
    SidecarIo.readJson[Config](spark, s"$mv/config.json").getOrElse(
      throw new NoSuchElementException(
        s"no materialized view at $mv (create first)"))

  private[sources] def baselineOf(spark: SparkSession, mv: String): Long =
    SidecarIo.readJson[VersionPin](spark, s"$mv/baseline.json")
      .getOrElse(throw new NoSuchElementException(
        s"no baseline at $mv — create first")).version

  private def writeBaseline(spark: SparkSession, mv: String,
                            version: Long): Unit =
    SidecarIo.writeJsonAtomic(spark, s"$mv/baseline.json",
      VersionPin(version))

  /** The window a crashed refresh pinned for baseline `since`: its
    * `until`, or None when no pin is pending for that baseline. */
  private[sources] def pinnedUntil(spark: SparkSession, mv: String,
                                   since: Long): Option[Long] =
    SidecarIo.readJson[Intent](spark, s"$mv/intent.json")
      .filter(_.since == since).map(_.until)

  /** Create the view at `mv`: one full aggregate of `table`'s
    * CURRENT version (pinned before the scan — a commit racing the
    * create lands in the first refresh window, never half in the
    * initial state). `sumCols` must be numeric columns of the
    * table. `filterSql` (optional, ANSI SQL over the table's columns,
    * pinned in the config) makes it a FILTERED view: the predicate
    * restricts the seed aggregate and every refresh delta
    * identically; it must be row-local (a predicate over other rows
    * cannot fold from a row delta) and must not reference columns a
    * later schema change renames (re-create the view after
    * non-additive evolution, as with key/value columns). `deriveCols`
    * are named row-local SQL expressions computed before the filter
    * and usable as keys/values — the time-bucket rollup shape
    * (`("day", "date_trunc('day', ts)")` as a GROUP key the table
    * never stored); declared order matters (a derive may reference an
    * earlier one).
    *
    * RE-RUNNABLE like refresh (the [[graft.streaming
    * .MaterializedIngest]] lazy-create path replays it on a crashed
    * micro-batch): the pinned version is write-ahead recorded
    * (`createpin.json`) so a replay re-aggregates the SAME snapshot,
    * the seed commit is tagged (`mv-create` — a replay's append
    * dedupes instead of double-seeding), and config/baseline writes
    * are idempotent rewrites of the same content. `config.json` is
    * written LAST of the two markers refresh reads, so a half-created
    * view is invisible to [[refresh]]/[[read]] until the seed state
    * actually exists. */
  def create(spark: SparkSession, table: String, mv: String,
             keyCols: Seq[String], sumCols: Seq[String],
             filterSql: String = "",
             minMaxCols: Seq[String] = Nil,
             distinctCols: Seq[String] = Nil,
             deriveCols: Seq[(String, String)] = Nil): Unit = {
    require(keyCols.nonEmpty, "at least one group-by key")
    require(keyCols.intersect(
      sumCols ++ minMaxCols ++ distinctCols).isEmpty,
      "a column cannot be both key and value")
    require(!SidecarIo.exists(spark, s"$mv/config.json"),
      s"materialized view already exists at $mv")
    val cur = SidecarIo.readJson[VersionPin](spark, s"$mv/createpin.json")
      .map(_.version).filter(_ >= 0L)
      .getOrElse {
        val v = Snapshot.latestVersion(spark, table).getOrElse(
          throw new IllegalStateException(
            s"no committed snapshot in $table"))
        SidecarIo.writeJsonAtomic(spark, s"$mv/createpin.json",
          VersionPin(v))
        v
      }
    require(deriveCols.map(_._1).distinct.size == deriveCols.size,
      "duplicate derived-column names")
    val c = Config(keyCols, sumCols, filterSql, minMaxCols,
      distinctCols, deriveCols.map { case (n, q) => Derive(n, q) })
    val st = stateAgg(Snapshot.read(spark, table, Some(cur)), c)
      .withColumn("__mv_key", mvKey(keyCols))
    Snapshot.append(st, s"$mv/state", tag = Some("mv-create"),
      statsCols = Seq("__mv_key"), bloomCols = Seq("__mv_key"))
    writeBaseline(spark, mv, cur)
    SidecarIo.writeJsonAtomic(spark, s"$mv/config.json", c)
  }

  /** Fold the table's net changes since the last refresh into the
    * stored state. O(changed rows) to compute the per-key delta,
    * O(touched keys) to fold: only state rows whose key actually
    * changed are read (semi-join; the state table's `__mv_key`
    * stats/Blooms prune at file level) and only those keys rewrite
    * (merge-on-read upsert). Returns the folded `(since, until]`
    * window, or None when already up to date. */
  def refresh(spark: SparkSession, table: String,
              mv: String): Option[(Long, Long)] = {
    val c = configOf(spark, mv)
    val since = baselineOf(spark, mv)
    val state = s"$mv/state"
    // the WRITE-AHEAD window pin: a crashed refresh resumes ITS
    // window, not whatever the table head is by replay time — the
    // crashed run's fold may already be committed for the old window
    val until = pinnedUntil(spark, mv, since).getOrElse {
      val u = Snapshot.latestVersion(spark, table).getOrElse(
        throw new IllegalStateException(
          s"no committed snapshot in $table"))
      if (u > since)
        SidecarIo.writeJsonAtomic(spark, s"$mv/intent.json",
          Intent(since, u))
      u
    }
    if (until <= since) return None
    val tag = s"mv-$since-$until"
    if (Snapshot.tagVersion(spark, state, tag).nonEmpty) {
      // the crashed run's fold is already committed — recomputing it
      // against the folded state would be wrong; just finish the
      // bookkeeping it never reached
      writeBaseline(spark, mv, until)
      return Some((since, until))
    }
    // derives + predicate prepare the DELTA exactly as they prepared
    // the seed: a changed row outside the view never touches a key,
    // and derived group keys exist on the delta rows too
    val ch = prep(
      Snapshot.readChangesBetween(spark, table, since, until), c)
    val sign = when(col("_change") === "insert", lit(1L))
      .otherwise(lit(-1L))
    val ins = col("_change") === "insert"
    val extendedDeltaCols =
      if (c.extended.isEmpty) Nil
      else
        // which keys a DELETE touched (they need the group rescan for
        // the half-maintainable aggregates), plus the insert-side
        // folds for keys that stay incremental
        coalesce(max(when(ins, lit(0)).otherwise(lit(1))), lit(0))
          .as("__has_del") +:
          (c.minmax.flatMap(m => Seq(
            min(when(ins, col(m))).as(s"__imin_$m"),
            max(when(ins, col(m))).as(s"__imax_$m"))) ++
            c.distinct.map(d =>
              hll_sketch_agg(when(ins, col(d))).as(s"__ihll_$d")))
    val sumT: Map[String, DataType] =
      c.vals.map(v => v -> sumTypeOf(ch.schema(v).dataType)).toMap
    val deltaObs = new org.apache.spark.sql.Observation()
    val delta = ch.groupBy(c.keys.map(col): _*)
      .agg(sum(sign).as("__dn"),
        c.vals.flatMap { v =>
          val t = sumT(v)
          Seq(
            coalesce(sum(sign * col(v).cast(t)).cast(t), sumZero(t))
              .as(s"__dsum_$v"),
            coalesce(sum(when(col(v).isNotNull, sign)
              .otherwise(lit(0L))), lit(0L)).as(s"__dcnt_$v"))
        } ++
          extendedDeltaCols: _*)
      .withColumn("__mv_key", mvKey(c.keys))
      // the touched-key count rides the checkpoint job (CollectMetrics
      // — no extra job) and gates the fold's broadcast hints below
      .observe(deltaObs, count(lit(1)).as("keys"))
      // MATERIALIZED once (guide §3.3 — truncate enormous plans): the
      // fold below references the delta several times (touched-key
      // semi-join, the outer fold, and the rescan split), and without
      // the cut each reference embeds its own copy of the whole
      // chain-walk CDC subtree — Catalyst re-optimizes it per copy
      // and the driver pays seconds of planning for an O(touched
      // keys) frame. The checkpoint is delta-sized, never table-sized.
      .localCheckpoint()
    // BROADCAST the touched-key sides of every fold join when the
    // delta is small (guide §3.1): a localCheckpoint's LogicalRDD has
    // no size statistics, so the static planner would sort-merge every
    // one of these joins — shuffling the state read AND the delta —
    // even for a refresh touching five keys. The observed key count
    // is the real size, not an estimate; past the cap the joins fall
    // back to shuffles (a bulk-erasure window can touch more keys
    // than an executor should hold).
    val deltaKeys = deltaObs.get("keys").asInstanceOf[Long]
    def keySide(d: DataFrame): DataFrame =
      if (deltaKeys <= BroadcastKeyCap) broadcast(d) else d
    // old values of ONLY the touched keys: the broadcast semi-join
    // side is delta-sized; at scale the state read itself is file-
    // pruned by the __mv_key Blooms gathered at every state commit.
    // (already distinct: one delta row per group key)
    val touched = delta.select(col("__mv_key"))
    val old = Snapshot.read(spark, state)
      .join(keySide(touched), Seq("__mv_key"), "left_semi")
    val oldK = old.columns.filterNot(_ == "__mv_key")
      .foldLeft(old)((d, n) => d.withColumnRenamed(n, s"__old_$n"))
    val folded0 = delta.join(keySide(oldK), Seq("__mv_key"), "left_outer")
    val keyExprs = c.keys.map(k =>
      coalesce(col(s"__old_$k"), col(k)).as(k))
    // the incremental fold: count/sum always; min/max via least/
    // greatest and sketches via union — sound for these rows because
    // their window held only inserts (monotone folds)
    def incSelect(df: DataFrame) = df.select(
      keyExprs ++
        (Seq((coalesce(col("__old_n_rows"), lit(0L)) + col("__dn"))
          .as("n_rows")) ++
          c.vals.flatMap(v => Seq(
            (coalesce(col(s"__old_sum_$v"), sumZero(sumT(v))) +
              col(s"__dsum_$v")).cast(sumT(v)).as(s"sum_$v"),
            (coalesce(col(s"__old_cnt_$v"), lit(0L)) +
              col(s"__dcnt_$v")).as(s"cnt_$v"))) ++
          c.minmax.flatMap(m => Seq(
            least(col(s"__old_min_$m"), col(s"__imin_$m"))
              .as(s"min_$m"),
            greatest(col(s"__old_max_$m"), col(s"__imax_$m"))
              .as(s"max_$m"))) ++
          c.distinct.map { d =>
            val o = col(s"__old_hll_$d"); val i = col(s"__ihll_$d")
            when(o.isNull, i).when(i.isNull, o)
              .otherwise(hll_union(o, i)).as(s"hll_$d")
          }) :+
        col("__mv_key"): _*)
    val badObs = new org.apache.spark.sql.Observation()
    val folded =
      (if (c.extended.isEmpty) incSelect(folded0)
       else {
         val inc = incSelect(folded0.filter(col("__has_del") === 0))
         // TARGETED GROUP RESCAN for delete-touched keys: the base
         // table AT THE WINDOW'S PINNED END (deterministic under
         // replay), restricted to exactly those keys — cost bounded
         // by those groups' rows, never the table
         val rescanKeys = folded0.filter(col("__has_del") === 1)
           .select(col("__mv_key") +: keyExprs: _*)
         val rescanned = stateAgg(
           prep(Snapshot.read(spark, table, Some(until)), c)
             .withColumn("__mv_key", mvKey(c.keys))
             .join(keySide(rescanKeys.select(col("__mv_key"))),
               Seq("__mv_key"), "left_semi"),
           // derives/filter already ran; the derived columns are real
           // columns on this frame now
           c.copy(filter = "", derives = Nil))
           .withColumn("__mv_key", mvKey(c.keys))
         // keys the rescan found nothing for are fully deleted —
         // they tombstone (n_rows = 0) exactly like the incremental
         // path's vanished keys
         val rescanCols = rescanned.columns.filterNot(_ == "__mv_key")
         val resK = rescanCols.foldLeft(rescanned)((d, n) =>
           d.withColumnRenamed(n, s"__re_$n"))
         val resFolded = rescanKeys
           .join(keySide(resK), Seq("__mv_key"), "left_outer")
           .select(
             c.keys.map(k => coalesce(col(s"__re_$k"), col(k)).as(k)) ++
               (Seq(coalesce(col("__re_n_rows"), lit(0L))
                 .as("n_rows")) ++
                 c.vals.flatMap(v => Seq(
                   coalesce(col(s"__re_sum_$v"), sumZero(sumT(v)))
                     .as(s"sum_$v"),
                   coalesce(col(s"__re_cnt_$v"), lit(0L))
                     .as(s"cnt_$v"))) ++
                 c.minmax.flatMap(m => Seq(
                   col(s"__re_min_$m").as(s"min_$m"),
                   col(s"__re_max_$m").as(s"max_$m"))) ++
                 c.distinct.map(d =>
                   col(s"__re_hll_$d").as(s"hll_$d"))) :+
               col("__mv_key"): _*)
         inc.unionByName(resFolded)
       })
      // the divergence check OBSERVES the checkpoint job itself (a
      // CollectMetrics side-channel) instead of running its own count
      .observe(badObs,
        count(when(col("n_rows") < 0L, lit(1))).as("bad"))
      .localCheckpoint() // one materialization: the fold feeds a
                         // delete AND an upsert, and both must see
                         // the same rows
    val bad = badObs.get("bad").asInstanceOf[Long]
    require(bad == 0L,
      s"$bad keys folded to negative counts — the state at $mv has " +
        s"diverged from $table's change feed (skipped window or " +
        "external edit); drop and re-create the view")
    // ONE tagged commit: fully-deleted keys ride along as n_rows = 0
    // tombstones (filtered at read) so there is no second commit a
    // crash could separate from this one
    Snapshot.mergeMor(folded, state, "__mv_key", tag = Some(tag))
    writeBaseline(spark, mv, until)
    Some((since, until))
  }

  /** The view's current contents: key columns, `n_rows`,
    * `sum_<v>`/`cnt_<v>` per value column (avg = sum/cnt),
    * `min_<m>`/`max_<m>` per min-max column, and `ndv_<d>` (the HLL
    * estimate, 0 for all-null groups) per distinct column — the raw
    * sketch bytes stay internal. Reads the state table only — never
    * the base table. Tombstoned keys (every row deleted since the
    * last fold) are filtered out. */
  def read(spark: SparkSession, mv: String): DataFrame = {
    val c = configOf(spark, mv)
    val base = Snapshot.read(spark, s"$mv/state")
      .filter(col("n_rows") > 0L)
    c.distinct.foldLeft(base)((d, dc) =>
      d.withColumn(s"ndv_$dc",
        coalesce(hll_sketch_estimate(col(s"hll_$dc")), lit(0L))))
      .drop(c.distinct.map(d => s"hll_$d"): _*)
      .drop("__mv_key")
  }

  /** The view's definition and freshness as a small key/value frame
    * (driver-built — the config, pin, and manifest are already tiny
    * reads; no state data file is opened): keys/values/filter/
    * derives/extended columns, the folded baseline version, and the
    * state table's current version and stored row count (live keys +
    * tombstones). The operational questions this answers ("what IS
    * this view", "how far behind is it", "how much tombstone debt")
    * otherwise need ad-hoc sidecar parsing. */
  def describe(spark: SparkSession, mv: String): DataFrame = {
    import spark.implicits._
    val c = configOf(spark, mv)
    val baseline = baselineOf(spark, mv)
    val stateV = Snapshot.versions(spark, s"$mv/state").lastOption
    Seq(
      "keys" -> c.keys.mkString(", "),
      "sum_cols" -> c.vals.mkString(", "),
      "filter" -> c.filter,
      "minmax_cols" -> c.minmax.mkString(", "),
      "distinct_cols" -> c.distinct.mkString(", "),
      "derives" -> c.derives.map(x => s"${x.name} <- ${x.sql}")
        .mkString("; "),
      "baseline_version" -> baseline.toString,
      "state_version" -> stateV.map(_._1.toString).getOrElse(""),
      "state_rows" -> stateV.map(_._4.toString).getOrElse("")
    ).toDF("property", "value")
  }

  /** Reclaim tombstones (state rows a fold drove to `n_rows = 0`,
    * invisible to [[read]] but still stored): one merge-on-read
    * key delete against the state table. Tombstone mass is bounded
    * by keys that ever fully vanished, so this is occasional
    * maintenance, not part of the refresh path — and it is safe at
    * ANY point relative to crashes: a replayed window short-circuits
    * on its commit tag (never recomputing a fold that could miss the
    * vacuumed row), and a reclaimed key that re-enters later takes
    * the normal new-key path. Returns the state version. */
  def vacuum(spark: SparkSession, mv: String): Long = {
    val state = s"$mv/state"
    Snapshot.deleteKeysMor(
      Snapshot.read(spark, state).filter(col("n_rows") === 0L)
        .select(col("__mv_key")), state)
  }

  /** The state table's whole maintenance pass in one call, on the
    * cadence a deployment schedules anyway: [[vacuum]] tombstones,
    * fold the accumulated per-refresh micro-files ([[Snapshot
    * .compactSmall]] — each fold lands one small upsert commit, so a
    * long-lived view accretes exactly the small-file pattern
    * compactSmall exists for, and the fold also folds the vacuum's
    * MoR delete), then [[Snapshot.expire]] old state versions and
    * orphans. Run it BETWEEN refreshes (the single-maintainer
    * contract: maintenance and refresh race the same state head;
    * interleaved REFRESH appends would carry forward, but the
    * maintainer is one loop anyway). Read results are unchanged by
    * construction (spec-pinned). */
  def maintain(spark: SparkSession, mv: String,
               smallBytes: Long = 32L << 20,
               keepLast: Int = 2,
               graceMicros: Long = 600_000_000L): Unit = {
    val state = s"$mv/state"
    // FIRST finish any crashed window's bookkeeping: the expire below
    // may drop the manifest whose tag is the only proof that window's
    // fold landed — a later replay that cannot find the tag would
    // recompute the fold against folded state. Same short-circuit as
    // refresh, doable here because intent.json carries the window.
    val since = baselineOf(spark, mv)
    pinnedUntil(spark, mv, since)
      .filter(u => u > since &&
        Snapshot.tagVersion(spark, state, s"mv-$since-$u").nonEmpty)
      .foreach(writeBaseline(spark, mv, _))
    vacuum(spark, mv)
    Snapshot.compactSmall(spark, state, smallBytes = smallBytes)
    Snapshot.expire(spark, state, keepLast = keepLast,
      graceMicros = graceMicros): Unit
  }
}
