package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ora.{dec, dsumOver}

/** Relational ETL operators (SURVEY.md §2.2/§2.3/§2.6).
  *
  * Each operator is a pure DataFrame→DataFrame function so Catalyst sees one
  * declarative plan: filters push to the parquet scan, small sides broadcast,
  * and nothing collects to the driver.
  */
object Relational {

  /** P4: missing-flag normalization — sentinel → null at ingestion so
    * aggregates skip missing values (reference: ml/rf.py:154,180-181 replaces
    * -9999 with NaN; we normalize straight to null per SURVEY §7.4 NaN/null
    * discipline).
    */
  def naReplace(df: DataFrame, sentinel: Double = -9999.0, cols: Seq[String] = Nil): DataFrame = {
    val target = if (cols.nonEmpty) cols else df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.DoubleType ||
                f.dataType == org.apache.spark.sql.types.FloatType => f.name
    }.toSeq
    target.foldLeft(df)((d, c) =>
      d.withColumn(c, when(col(c) === lit(sentinel), lit(null)).otherwise(col(c))))
  }

  /** P6: deduplication on a key subset, deterministic variant — keeps the row
    * with the smallest tie-break key instead of an arbitrary one
    * (reference: ml/rf.py:170-177 drop_duplicates(subset=...); pandas keeps
    * 'first' in file order, which we make explicit with an ORDER BY).
    * One shuffle on the key; whole-stage codegen'd row_number.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** S4: daily upsert — old ∪ new, dedup on key (reference:
    * retrieve_radar_data.py:635-649 read-append-drop_duplicates-rewrite;
    * there the old/new overlap carries identical rows, so its full-row
    * drop_duplicates never has to choose). Keyed with EXPLICIT
    * precedence here — the incoming row wins a key collision — because
    * a bare `dropDuplicates(keys)` keeps an arbitrary row, which can
    * flip between runs with partitioning. Caller contract: each side is
    * key-unique (duplicate keys WITHIN one side still tie arbitrarily).
    * At scale this is a dynamic partition overwrite on the day partition;
    * the dedup itself is one shuffle.
    */
  def upsert(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame =
    dedupKeepFirst(
      newDf.withColumn("__prec", lit(0))
        .unionByName(oldDf.withColumn("__prec", lit(1))),
      keys, "__prec").drop("__prec")

  /** S5: incremental merge — append only rows whose key is not already present;
    * `overwrite=true` flips precedence to the incoming rows
    * (reference: retrieve_dwh_data.py:16-28 append_to_file).
    * Anti-join (one shuffle, broadcast if small) + union; no driver round-trip.
    */
  def incrementalMerge(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
                       overwrite: Boolean = false): DataFrame = {
    val (keep, add) = if (overwrite) (incoming, existing) else (existing, incoming)
    keep.unionByName(add.join(keep.select(keys.map(col): _*).distinct(), keys, "left_anti"))
  }

  /** J3: 3-way semi-join — keep only keys present in all three tables
    * (reference: ml/rf.py:192-208 builds a concatenated `s-tstamp` string key
    * and intersects sets; Spark semi-joins on the composite key need no
    * string concat and stay distributed).
    */
  def threeWaySemi(main: DataFrame, other1: DataFrame, other2: DataFrame,
                   keys: Seq[String]): DataFrame =
    main.join(other1, keys, "left_semi").join(other2, keys, "left_semi")

  /** P7: station blocklist (reference: ml/rf.py:410). */
  def blocklist(df: DataFrame, column: String, removed: Seq[String]): DataFrame =
    df.filter(!col(column).isin(removed: _*))

  /** P12: prefix exclusion (reference: performance/eval_get_estimates.py:68-73
    * drops stations starting with "SLF").
    */
  def excludePrefix(df: DataFrame, column: String, prefix: String): DataFrame =
    df.filter(!col(column).startsWith(prefix))

  /** P8: physics constraints — drop rows inconsistent between observed value
    * and signal (reference: ml/rf.py:411-420 constraint_min_zh/max_zh).
    */
  def physicsConstraint(df: DataFrame, keep: Column): DataFrame = df.filter(keep)

  /** A1: wet-hour filter — keep all rows of (key, hour) groups whose summed
    * value reaches a threshold (reference: retrieve_dwh_data.py:104-115).
    * Window-sum avoids a second join: one shuffle on (key, hour).
    */
  def wetPeriodFilter(df: DataFrame, key: String, tsCol: String, valueCol: String,
                      threshold: Double, period: String = "1 hour"): DataFrame = {
    val w = Window.partitionBy(col(key), window(col(tsCol), period))
    df.withColumn("__psum", sum(col(valueCol)).over(w))
      .filter(col("__psum") >= threshold)
      .drop("__psum")
  }

  /** O8 + skew handling: salted equi-join — the left side gets a
    * deterministic salt in [0, nSalts), the (smaller) right side is
    * replicated once per salt, and the join key becomes (keys..., salt).
    * Breaks a hot key across nSalts reducers; result is identical to the
    * plain join for the left-preserving join types (inner/left/semi/anti —
    * the only ones allowed: a right/full outer join would emit one
    * null-extended row PER UNMATCHED REPLICA, up to nSalts duplicates).
    * (AQE skew-join covers sort-merge cases automatically; this is the
    * explicit tool for pathological keys.)
    *
    * The salt is round-robin on the left row's position — the join result is
    * invariant to which salt a row lands on (the right side is replicated to
    * every salt), so stage-retry instability of the row order cannot change
    * the output, and no columns need hashing.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 nSalts: Int, joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
                "leftsemi", "left_anti", "leftanti").contains(joinType.toLowerCase),
      s"saltedJoin replicates the right side; joinType '$joinType' would " +
        "duplicate unmatched right rows — use inner/left/left_semi/left_anti")
    val salted = left.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(nSalts.toLong)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    salted.join(replicated, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Scale: bucketed table write — pre-partition a fact table on its join
    * key so repeated joins between co-bucketed tables plan with NO shuffle
    * exchange (SortMergeJoin reads buckets directly). The persistent-layout
    * complement to `saltedJoin`: salting fixes one skewed run, bucketing
    * amortizes the shuffle across every future join at 100 TB.
    */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** A2/W2: full-hour filter — keep only (key, hour) groups with exactly `n`
    * rows, via a count window transform
    * (reference: ml/rf.py:211-223 transform('count') == 6).
    */
  def fullPeriodFilter(df: DataFrame, key: String, tsCol: String, n: Long,
                       period: String = "1 hour"): DataFrame = {
    val w = Window.partitionBy(col(key), window(col(tsCol), period))
    df.withColumn("__pcount", count(lit(1)).over(w))
      .filter(col("__pcount") === n)
      .drop("__pcount")
  }

  /** Slowly-changing-dimension Type 2 build (Kimball): collapse an event
    * stream into versioned attribute rows with validity intervals — one
    * row per (key, attribute run), `valid_from` = the run's first
    * observation, `valid_to` = the next run's start (NULL ⇒ current).
    * Change points come from a null-safe lag compare; `ordCol` breaks
    * equal-timestamp ties so versions are total-ordered and deterministic.
    *
    * Scale shape: two windows over the SAME (key × ts, ord) partitioning —
    * one exchange + one sort feed both (the change-point lag and the
    * version/lead pass), nothing else shuffles. Keys partition
    * independently, so a 100 TB history with billions of keys spreads
    * evenly; a single key's history must fit one partition's sort, the
    * standard SCD contract.
    */
  /** Data-quality profile: per column — row count, null count, exact
    * distinct count — plus a `*` row carrying whole-row duplicate count,
    * the audit a pipeline runs before trusting a new drop. One aggregation
    * job (Spark expands the multi-distinct into grouped passes itself) and
    * a 1-row→|cols|-row explode; nothing driver-side beyond the single
    * result row. Count-only output by design: min/max/mean would drag
    * engine-specific type formatting into the gate, and the count triple
    * is what the ingest decision actually reads.
    */
  def dqProfile(df: DataFrame, cols: Seq[String],
                approx: Boolean = false, rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "dqProfile: need at least one column")
    // approx=true is the 100 TB profiling path: approx_count_distinct's
    // mergeable HLL++ buffers replace exact COUNT(DISTINCT), which for
    // multiple columns in one agg costs an Expand (rows × (cols+1)) plus a
    // per-column distinct shuffle. Exact stays the default — it is the
    // oracle-gated semantics; null counts are exact on both paths.
    def nd(c: Column): Column =
      if (approx) approx_count_distinct(c, rsd) else countDistinct(c)
    val aggs =
      Seq(count(lit(1)).as("__n"),
        nd(struct(df.columns.map(col): _*)).as("__ndr")) ++
      cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"),
          nd(col(c)).as(s"__nd_$c"))
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = cols.map(c => struct(lit(c).as("column_name"),
      col(s"__null_$c").as("n_null"), col(s"__nd_$c").as("n_distinct"))) :+
      struct(lit("*").as("column_name"),
        (col("__n") - col("__ndr")).as("n_null"), // duplicate ROWS for '*'
        col("__ndr").as("n_distinct"))
    one.select(col("__n").as("n_rows"), explode(array(entries: _*)).as("e"))
      .select(col("e.column_name"), col("n_rows"), col("e.n_null"),
        col("e.n_distinct"))
  }

  /** Key-skew profile — the diagnostic that decides whether a join/agg on
    * `keyCol` needs salting: top-`k` keys by row count with each key's
    * share and the CUMULATIVE share (decimal-exact running sum of the
    * rounded shares, so "the top 10 keys own X% of the rows" reads off
    * the last row). One keyed count + a k-row TakeOrdered + a window over
    * k rows; the full key distribution never leaves the executors.
    */
  def keySkewProfile(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    require(k > 0, s"keySkewProfile: k must be > 0, got $k")
    val total = df.count()
    val top = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(keyCol)).limit(k)
    val w = Window.orderBy(col("cnt").desc, col(keyCol))
    top
      .withColumn("rank", row_number().over(w).cast("int"))
      .withColumn("share", round(col("cnt").cast("double") / total, 6))
      .withColumn("cum_share",
        round(dsumOver(col("share"), w), 6))
      .select(col("rank"), col(keyCol), col("cnt"), col("share"),
        col("cum_share"))
  }

  /** Referential-integrity audit: fact rows whose foreign key misses the
    * dimension — the orphan report. An anti-join (broadcastable when the
    * dimension key set is small, shuffled otherwise) then a keyed count;
    * top-`k` orphan keys by row count plus the exact totals.
    */
  def dqOrphans(fact: DataFrame, factKey: String, dim: DataFrame,
                dimKey: String, k: Int = 10): DataFrame = {
    val orphans = fact.join(dim.select(col(dimKey).as(factKey)).distinct(),
      Seq(factKey), "left_anti")
    // the keySkewProfile shape: TakeOrdered to k rows FIRST, then rank the
    // k survivors — ranking before limiting would single-partition-sort
    // every distinct orphan key
    orphans.groupBy(col(factKey)).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("n_rows").desc, col(factKey)).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_rows").desc, col(factKey))).cast("int"))
      .select(col("rank"), col(factKey), col("n_rows"))
  }

  /** CDC log application (the lakehouse MERGE-from-changelog): collapse an
    * insert/update/delete operation log to the current snapshot — per key,
    * the latest op by (ts, ord) wins; a winning delete removes the key
    * entirely. One partitioned window (the same single-exchange shape as
    * [[scd2]]); at 100 TB the log partitions by key and each key's history
    * sorts locally. `opCol` values: 'I'/'U' upsert, 'D' delete.
    */
  def cdcApply(ops: DataFrame, keyCol: String, tsCol: String, ordCol: String,
               opCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(ordCol).desc)
    ops.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= "D")
      .drop("__rn")
  }

  def scd2(df: DataFrame, keyCol: String, attrCol: String, tsCol: String,
           ordCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(ordCol))
    df.withColumn("__prev", lag(col(attrCol), 1).over(w))
      .filter(!(col("__prev") <=> col(attrCol)))
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col("version"), col(attrCol),
        col(tsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }
  /** CDC changelog → SCD Type-2 dimension HISTORY (the composition of
    * [[cdcApply]]'s op semantics with [[scd2]]'s versioned intervals —
    * what a warehouse "apply the changelog to the dimension" job
    * produces). Per key, ops ordered by (ts, ord) define an alive-state
    * sequence: I/U carry the attribute, D is a tombstone. Every
    * null-safe state CHANGE is a boundary; non-tombstone boundaries open
    * a version whose `valid_to` is the next boundary's ts (a delete
    * CLOSES the open version without opening one, and a re-insert after
    * a delete opens a NEW version even if the attribute is unchanged —
    * the delete is real history, unlike plain [[scd2]] runs).
    * `is_current` is false for every version of a currently-deleted key.
    *
    * Same scale shape as the pieces: key-partitioned windows only — the
    * log shuffles once by key and each key's history sorts locally.
    */
  def cdcScd2(ops: DataFrame, keyCol: String, attrCol: String,
              tsCol: String, ordCol: String, opCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(ordCol))
    // state = (alive, attr): the explicit alive flag keeps an I/U whose
    // attribute VALUE is null distinct from a tombstone — encoding
    // deletes as a null attr alone would silently read a null-valued
    // update as a deletion. A D's attr payload is normalized to null so
    // consecutive tombstones collapse whatever their rows carried; the
    // attribute keeps its own type in the output.
    val alive = col(opCol) =!= "D"
    val state = when(alive, col(attrCol)).otherwise(lit(null))
    val boundaries = ops
      .withColumn("__alive", alive)
      .withColumn("__s", state)
      .withColumn("__pAlive", lag(col("__alive"), 1).over(w))
      .withColumn("__pS", lag(col("__s"), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 ||
        !(col("__alive") <=> col("__pAlive")) ||
        !(col("__s") <=> col("__pS")))
    boundaries
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .filter(col("__alive"))
      .withColumn("version", row_number().over(w).cast("int"))
      .select(col(keyCol), col("version"), col("__s").as(attrCol),
        col(tsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** CDC changelog → BITEMPORAL SCD2 history: [[cdcScd2]] extended with
    * TRANSACTION time. Each op carries a valid timestamp (`validTsCol`,
    * when the fact holds in the world) and a record timestamp
    * (`txTsCol`, when the warehouse learned it). Per key, every distinct
    * record time opens a transaction ERA — the valid-time SCD2 history as
    * known from the ops recorded up to that moment — stamped
    * [tx_from, tx_to) with tx_to the next era's start (null = latest
    * belief). A late-arriving correction therefore REWRITES the
    * valid-time history from its tx_from on, while every earlier era
    * still serves the uncorrected history it actually believed — the
    * reproducibility contract of a bitemporal dimension ("what did we
    * think the state at valid time V was, as of record time T?").
    *
    * Output: key, tx_from, tx_to, version (per era), attr, valid_from,
    * valid_to, is_current (open valid interval), is_latest (open tx
    * interval). The latest era (tx_to null) equals [[cdcScd2]] of the
    * full log row for row.
    *
    * Scale shape: one key-partitioned shuffle; the era join fans each
    * key's ops out to |ops| × |eras| rows, so cost is quadratic in the
    * PER-KEY ERA COUNT, not in the log — right for correction-bounded
    * feeds (batch record times: daily loads, replayed fixes), where eras
    * per key stay small however large the corpus. A feed recording every
    * op at its own microsecond should coarsen txTsCol to the batch
    * boundary before calling — and `maxErasPerKey` makes forgetting that
    * LOUD: any key opening more eras fails the job (an executing-side
    * assert riding the era window's own shuffle, the capBuckets
    * precedent) instead of going silently quadratic. Dropping eras here
    * would rewrite history semantics, so unlike the dedup cap the guard
    * rejects rather than trims.
    */
  def cdcScd2Bitemporal(ops: DataFrame, keyCol: String, attrCol: String,
                        validTsCol: String, txTsCol: String,
                        ordCol: String, opCol: String,
                        maxErasPerKey: Int = 1000): DataFrame = {
    require(maxErasPerKey > 0, s"bad maxErasPerKey=$maxErasPerKey")
    // null timestamps dropped up front (the processDfg rule): a null
    // valid ts makes the (key, era) window ordering engine-dependent
    // (NULLS FIRST vs LAST), and a null record ts silently vanishes from
    // every era (NULL <= tx_from) while corrupting the era lead()
    val o = ops
      .filter(col(validTsCol).isNotNull && col(txTsCol).isNotNull)
      .select(col(keyCol).as("__k"), col(attrCol).as("__a"),
        col(validTsCol).as("__vt"), col(txTsCol).as("__tt"),
        col(ordCol).as("__o"), col(opCol).as("__op"))
    val wEra = Window.partitionBy(col("__k")).orderBy(col("tx_from"))
    // the era-count guard is the VALUE expression of tx_from (the
    // assert_true-in-when move from Agg.summaryStats), so column pruning
    // can never drop it; the count window shares wEra's key partitioning
    val eras = o.select(col("__k"), col("__tt").as("tx_from")).distinct()
      .withColumn("__eraN", count(lit(1)).over(Window.partitionBy(col("__k"))))
      .withColumn("tx_from",
        when(assert_true(col("__eraN") <= lit(maxErasPerKey),
          concat(lit("cdcScd2Bitemporal: key "), col("__k").cast("string"),
            lit(" opens "), col("__eraN").cast("string"),
            lit(s" transaction eras (> maxErasPerKey=$maxErasPerKey) — the " +
              s"era join is quadratic per key; coarsen $txTsCol to the " +
              "batch boundary or raise maxErasPerKey"))).isNull,
          col("tx_from")))
      .drop("__eraN")
      .withColumn("tx_to", lead(col("tx_from"), 1).over(wEra))
    val known = o.join(eras, Seq("__k")).filter(col("__tt") <= col("tx_from"))
    // the cdcScd2 boundary machinery, partitioned by (key, era)
    val w = Window.partitionBy(col("__k"), col("tx_from"))
      .orderBy(col("__vt"), col("__o"))
    val alive = col("__op") =!= "D"
    val state = when(alive, col("__a")).otherwise(lit(null))
    val boundaries = known
      .withColumn("__alive", alive)
      .withColumn("__s", state)
      .withColumn("__pAlive", lag(col("__alive"), 1).over(w))
      .withColumn("__pS", lag(col("__s"), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 ||
        !(col("__alive") <=> col("__pAlive")) ||
        !(col("__s") <=> col("__pS")))
    boundaries
      .withColumn("valid_to", lead(col("__vt"), 1).over(w))
      .filter(col("__alive"))
      .withColumn("version", row_number().over(w).cast("int"))
      .select(col("__k").as(keyCol), col("tx_from"), col("tx_to"),
        col("version"), col("__s").as(attrCol),
        col("__vt").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"),
        col("tx_to").isNull.as("is_latest"))
  }

  /** Bitemporal point read over a [[cdcScd2Bitemporal]] history: the
    * dimension state at valid time `validTs` AS BELIEVED at record time
    * `txTs` — the two-interval filter (tx_from <= txTs < tx_to AND
    * valid_from <= validTs < valid_to, open intervals null). A pure
    * codegen'd filter like [[snapshotAt]]; on a history partitioned by
    * tx date both predicates prune.
    */
  def snapshotAsOf(history: DataFrame, validTs: Column, txTs: Column,
                   fromCol: String = "valid_from",
                   toCol: String = "valid_to",
                   txFromCol: String = "tx_from",
                   txToCol: String = "tx_to"): DataFrame =
    history.filter(col(txFromCol) <= txTs &&
        (col(txToCol).isNull || txTs < col(txToCol)))
      .filter(col(fromCol) <= validTs &&
        (col(toCol).isNull || validTs < col(toCol)))

  /** Bitemporal point read PUSHED DOWN to the ops log: the state at
    * (`validTs`, `txTs`) computed directly from the changelog instead of
    * probing a materialized [[cdcScd2Bitemporal]] history — the record-
    * time filter lands BEFORE any window, so the cost is one linear
    * key-partitioned SCD2 pass over the sub-log known at `txTs`, never
    * the |ops|·|eras| era fan-out. Equivalent to
    * `snapshotAsOf(cdcScd2Bitemporal(ops, ...), validTs, txTs)` row for
    * row (property-pinned); use this for ad-hoc point reads over huge
    * logs and the materialized history when many (validTs, txTs) probes
    * amortize one build.
    */
  def snapshotAsOfLog(ops: DataFrame, keyCol: String, attrCol: String,
                      validTsCol: String, txTsCol: String, ordCol: String,
                      opCol: String, validTs: Column,
                      txTs: Column): DataFrame =
    snapshotAt(
      cdcScd2(ops.filter(col(txTsCol) <= txTs), keyCol, attrCol,
        validTsCol, ordCol, opCol),
      validTs)

  /** Snapshot diff between two versions of a keyed table: FULL OUTER join
    * on the key, classify each key as added / removed / changed /
    * unchanged, and report counts grouped by (status, changed-column
    * set). Column comparison is null-safe; `changed_cols` is the
    * comma-joined list of differing columns (empty unless changed) so the
    * audit says WHICH fields drifted, not just how many rows.
    *
    * Scale shape: one key-partitioned shuffle join plus a
    * map-combinable count — the lakehouse version-diff primitive at any
    * table size; the output is bounded by |statuses| x |column subsets|.
    */
  def snapshotDiff(v1: DataFrame, v2: DataFrame, keyCol: String,
                   cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "snapshotDiff needs at least one compare column")
    val a = v1.select((keyCol +: cols).map(c => col(c).as("a_" + c)): _*)
    val b = v2.select((keyCol +: cols).map(c => col(c).as("b_" + c)): _*)
    val j = a.join(b, col("a_" + keyCol) === col("b_" + keyCol), "full_outer")
    val differs = cols.map(c => !(col("a_" + c) <=> col("b_" + c)))
      .reduceLeft(_ || _)
    val status = when(col("a_" + keyCol).isNull, lit("added"))
      .when(col("b_" + keyCol).isNull, lit("removed"))
      .when(differs, lit("changed"))
      .otherwise(lit("unchanged"))
    val changedCols = when(status === "changed",
        concat_ws(",", cols.map(c =>
          when(!(col("a_" + c) <=> col("b_" + c)), lit(c))): _*))
      .otherwise(lit(""))
    j.select(status.as("status"), changedCols.as("changed_cols"))
      .groupBy(col("status"), col("changed_cols"))
      .agg(count(lit(1)).as("n_rows"))
  }
  /** Ingest-freshness audit: per calendar day, the event count and the
    * LONGEST gap (seconds) between consecutive events — the cadence
    * monitor that catches a stalled feed inside an otherwise-full day.
    * One per-day window (lag) plus a map-combinable max.
    */
  def dqFreshness(events: DataFrame, tsCol: String,
                  idCol: String): DataFrame = {
    val day = to_date(col(tsCol))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(day)
      .orderBy(col(tsCol), col(idCol))
    events
      .select(day.as("day"), col(tsCol).as("__ts"),
        lag(col(tsCol), 1).over(w).as("__prev"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_timestamp(col("__ts")) - unix_timestamp(col("__prev")))
          .as("max_gap_s"))
  }

  /** Changelog GENERATION — the inverse of [[cdcApply]]: diff two keyed
    * snapshots into I/U/D change rows (the change-data-feed a lakehouse
    * table format emits, derived here from plain snapshots). A key only
    * in v2 inserts, only in v1 deletes (attribute columns null — the
    * tombstone carries no payload), in both with any null-safe column
    * difference updates; identical rows emit nothing. Round-trip
    * contract (spec'd): applying the changelog to v1 — delete D keys,
    * upsert I/U rows — reproduces v2 exactly.
    *
    * Scale shape: ONE full-outer key join, map-side classification,
    * output sized by the CHANGE, not the table.
    */
  def diffToChangelog(v1: DataFrame, v2: DataFrame, keyCol: String,
                      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "diffToChangelog needs at least one value column")
    val a = v1.select((keyCol +: cols).map(c => col(c).as("a_" + c)): _*)
    val b = v2.select((keyCol +: cols).map(c => col(c).as("b_" + c)): _*)
    val differs = cols.map(c => !(col("a_" + c) <=> col("b_" + c)))
      .reduceLeft(_ || _)
    val op = when(col("a_" + keyCol).isNull, lit("I"))
      .when(col("b_" + keyCol).isNull, lit("D"))
      .when(differs, lit("U"))
    a.join(b, col("a_" + keyCol) === col("b_" + keyCol), "full_outer")
      .withColumn("op", op)
      .filter(col("op").isNotNull)
      .select(coalesce(col("b_" + keyCol), col("a_" + keyCol)).as(keyCol) +:
        col("op") +:
        cols.map(c => when(col("op") =!= "D", col("b_" + c)).as(c)): _*)
  }

  /** Apply a [[diffToChangelog]] changelog to the base snapshot: drop
    * changed/deleted keys, append the I/U payloads — one anti join plus a
    * union, the MERGE INTO shape. `applyChangelog(v1, diffToChangelog(v1,
    * v2)) == v2` is the round-trip contract.
    */
  def applyChangelog(base: DataFrame, changelog: DataFrame, keyCol: String,
                     cols: Seq[String]): DataFrame = {
    val touched = changelog.select(col(keyCol))
    base.select((keyCol +: cols).map(col): _*)
      .join(touched, Seq(keyCol), "left_anti")
      .unionByName(changelog.filter(col("op") =!= "D")
        .select((keyCol +: cols).map(col): _*))
  }

  /** Point-in-time read over an SCD2 history ([[scd2]] / [[cdcScd2]]
    * output): the dimension exactly as it stood at `ts` — rows whose
    * validity interval covers it (valid_from <= ts < valid_to, open
    * valid_to = current). A pure codegen'd filter; on a history
    * partitioned/sorted by validity date the predicate prunes row groups,
    * so time travel costs a slice, not a scan.
    */
  def snapshotAt(history: DataFrame, ts: Column,
                 fromCol: String = "valid_from",
                 toCol: String = "valid_to"): DataFrame =
    history.filter(col(fromCol) <= ts &&
      (col(toCol).isNull || ts < col(toCol)))

  /** Incremental aggregate maintenance with retraction semantics — the
    * materialized-view primitive: fold a change batch (`opCol` = +1
    * insert / −1 retract) into a maintained per-key aggregate state
    * WITHOUT rescanning the base. At 100 TB a full groupBy of the base
    * costs hours; a delta touches few keys, and this costs one groupBy
    * of the DELTA plus one key-partitioned outer join of state-sized
    * relations.
    *
    * State schema ([[buildAggState]]): keys…, `cnt` (COUNT(*) semantics),
    * `sum_v` (DECIMAL(27,10) — exact, so retraction is exact and
    * partition-order-free; mean = sum_v/cnt is the caller's division),
    * `min_v`, `max_v`, `stale`.
    *
    * cnt and sum_v maintain EXACTLY under retraction (additive group).
    * min/max only half-maintain: inserts can only tighten them, but
    * retracting the stored extreme invalidates the value — such groups
    * come back with `stale` = true and null min/max, and
    * [[rescanExtremes]] repairs ONLY flagged groups against the current
    * base (a semi-join; deletes are rare, so the repair set is small).
    * The staleness test is conservative (a retraction EQUAL to the
    * extreme flags the group even when another copy of that value
    * survives — without a per-value multiset the engine cannot know),
    * never the other way. Null values follow SQL aggregate semantics
    * throughout: cnt counts all rows, sum/min/max skip nulls, so a
    * null-valued retraction adjusts cnt only and never flags staleness.
    * A retraction against a key absent from the state (caller error, or
    * a delta batch applied twice) also flags the group stale rather
    * than inventing extremes. Groups whose cnt reaches 0 are dropped —
    * exactly what recomputation would produce.
    */
  def maintainAgg(state: DataFrame, delta: DataFrame, keys: Seq[String],
                  valCol: String, opCol: String): DataFrame = {
    require(keys.nonEmpty, "maintainAgg needs at least one key")
    val v = dec(col(valCol))
    val op = col(opCol).cast("long")
    val d = delta.groupBy(keys.map(col): _*).agg(
      sum(op).as("__dcnt"),
      sum(when(v.isNotNull, op * v)).as("__dsum"),
      min(when(op > 0, col(valCol))).as("__ins_min"),
      max(when(op > 0, col(valCol))).as("__ins_max"),
      min(when(op < 0, col(valCol))).as("__ret_min"),
      max(when(op < 0, col(valCol))).as("__ret_max"))
    val j = state.join(d, keys, "full_outer")
    val newCnt = coalesce(col("cnt"), lit(0L)) + coalesce(col("__dcnt"), lit(0L))
    val newSum = when(
      col("sum_v").isNotNull || col("__dsum").isNotNull,
      coalesce(col("sum_v"), dec(lit(0))) + coalesce(col("__dsum"), dec(lit(0))))
    // stale: a retraction at-or-beyond the stored extreme, or a
    // retraction against a group the state never saw (min_v/max_v both
    // tell the same story for absent groups — cnt null is the real test)
    val hasRet = col("__ret_min").isNotNull || col("__ret_max").isNotNull
    val becameStale = hasRet && (col("cnt").isNull ||
      (col("__ret_min").isNotNull && (col("min_v").isNull || col("__ret_min") <= col("min_v"))) ||
      (col("__ret_max").isNotNull && (col("max_v").isNull || col("__ret_max") >= col("max_v"))))
    val stale = coalesce(col("stale"), lit(false)) || becameStale
    val outMin = when(stale, lit(null)).otherwise(least(col("min_v"), col("__ins_min")))
    val outMax = when(stale, lit(null)).otherwise(greatest(col("max_v"), col("__ins_max")))
    j.select(keys.map(col) ++ Seq(
        newCnt.as("cnt"), newSum.as("sum_v"),
        outMin.as("min_v"), outMax.as("max_v"), stale.as("stale")): _*)
      .filter(col("cnt") > 0)
  }

  /** Initial state for [[maintainAgg]]: one aggregation of the base. */
  def buildAggState(base: DataFrame, keys: Seq[String], valCol: String): DataFrame =
    base.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("cnt"),
      sum(dec(col(valCol))).as("sum_v"),
      min(col(valCol)).as("min_v"),
      max(col(valCol)).as("max_v"),
      lit(false).as("stale"))

  /** Repair pass for [[maintainAgg]]: recompute min/max for the STALE
    * groups only, against the current base. Cost is one semi-join of the
    * base against the (small) stale key set plus a groupBy of the
    * surviving rows — the whole point of the flag: the unaffected
    * 99.9% of groups never rescan.
    */
  def rescanExtremes(state: DataFrame, base: DataFrame, keys: Seq[String],
                     valCol: String): DataFrame = {
    val staleKeys = state.filter(col("stale")).select(keys.map(col): _*)
    val repaired = base.join(staleKeys, keys, "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(min(col(valCol)).as("__r_min"), max(col(valCol)).as("__r_max"))
    state.join(repaired, keys, "left_outer")
      .select(keys.map(col) ++ Seq(
        col("cnt"), col("sum_v"),
        when(col("stale"), col("__r_min")).otherwise(col("min_v")).as("min_v"),
        when(col("stale"), col("__r_max")).otherwise(col("max_v")).as("max_v"),
        lit(false).as("stale")): _*)
  }
}
