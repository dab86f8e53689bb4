package graft.insights

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Configuration of an insights run — the generic form of the reference
  * pipeline's hardcoded column lists (reference `main.py:57-120`).
  *
  * @param groupingCols   enumeration universe, canonical order
  *                       (reference `cols_for_aggregations`, main.py:88-103)
  * @param buckets        numeric col -> floor-bucket width
  *                       (reference `cols_for_aggregations_with_bucket_sizes`,
  *                       main.py:106-115)
  * @param idValues       id col -> displayed value cols; id cols group but
  *                       render their value cols instead
  *                       (reference `id_cols_with_value_cols`, main.py:77-84)
  * @param thresholdPercent HAVING threshold as percent of total rows
  *                       (reference `threshold_percent=2`, main.py:118)
  */
case class InsightsConfig(
    groupingCols: Seq[String],
    buckets: Map[String, Long] = Map.empty,
    idValues: Map[String, Seq[String]] = Map.empty,
    thresholdPercent: Double = 2.0) {
  /** All value columns, in canonical id-col order. */
  def valueCols: Seq[String] = groupingCols.flatMap(c => idValues.getOrElse(c, Nil))

  /** The HAVING bound for `n` input rows: floor(p/100 * n), compared with
    * `>=` (semantic #7). The level-1 pruning bound is the same number. */
  def thresholdCount(n: Long): Long = math.floor(thresholdPercent / 100.0 * n).toLong
}

/** The reference's defining operator (SURVEY.md §2.1 O5-O15): for every
  * non-empty subset S of the grouping columns, `GROUP BY S HAVING
  * count >= floor(p% of N)`, each surviving group rendered as one
  * `key=value;…;<bare count>` string.
  *
  * Two implementations:
  *
  *  - `insightsForSubset` + `enumerateLoop`: the reference-compatible
  *    literal mode — one aggregate per subset, `first()` denormalization,
  *    batched `unionAll` (reference main.py:259-360). 2^k−1 shuffles.
  *
  *  - `insightsCube`: the scale mode — a single `cube()` over
  *    sentinel-coalesced label columns + `grouping_id()` post-processing.
  *    ONE shuffle regardless of k; partial aggregation map-side. This is
  *    the 100 TB path (16 383 aggregate exchanges over the same input do
  *    not survive a 1000-executor cluster; one cube shuffle does).
  *
  * Reference semantics preserved (pinned empirically, SURVEY.md §2.4):
  *  1. bare trailing count (no `count=` prefix);
  *  2. term order: non-id grouping cols (canonical order), then value
  *     cols, then count;
  *  3. bucket labels `[lo-(lo+width)]` computed pre-aggregation;
  *  4. rows with NULL in any grouping col of a subset are excluded for
  *     that subset only;
  *  5. null value cols vanish (concat null-propagation + concat_ws skip);
  *  6. booleans render lowercase true/false (Spark string cast);
  *  7. threshold = floor(p/100 * N), compare with >=.
  *
  * Deviation in declared (oracle-checked) mode: `min(valueCol)` replaces
  * the reference's nondeterministic `first()` (SURVEY.md §7.5.1); compat
  * mode keeps `first()`.
  */
object InsightsEngine {

  /** Sentinel standing in for NULL grouping values inside the cube, so
    * `grouping()`-nulls and data-nulls stay distinguishable. Any group
    * whose key contains this value is dropped post-cube (semantic #4);
    * collision with real data would need a value exactly equal to this. */
  val NullSentinel = "\u0000__GRAFT_NULL__"

  /** O3: cast listed columns to int (reference main.py:151-160). One
    * select, not N withColumns — a single Project node. */
  def castInts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val projected = df.columns.map { c =>
      if (cols.contains(c)) col(s"`$c`").cast("int").as(c) else col(s"`$c`")
    }
    df.select(projected.toSeq: _*)
  }

  /** O4: inclusive range filter (reference main.py:206-218). */
  def rangeFilter(df: DataFrame, filters: Seq[(String, Long, Long)]): DataFrame =
    filters.foldLeft(df) { case (d, (c, lo, hi)) =>
      d.filter(col(s"`$c`").between(lo, hi))
    }

  /** O5: floor-bucket numeric columns in place (reference main.py:163-203).
    * floor() lifts to Long — downstream must tolerate long bucket values
    * (SURVEY.md §2.4.7). */
  def bucket(df: DataFrame, buckets: Map[String, Long]): DataFrame = {
    val projected = df.columns.map { c =>
      buckets.get(c) match {
        case Some(w) => (floor(col(s"`$c`") / w) * w).cast("long").as(c)
        case None    => col(s"`$c`")
      }
    }
    df.select(projected.toSeq: _*)
  }

  /** O11: `[lo-(lo+width)]` label for an already-bucketed column. */
  def bucketLabel(c: Column, width: Long): Column =
    concat(lit("["), c.cast("string"), lit("-"), (c + width).cast("string"), lit("]"))

  /** O6-O13 for ONE grouping subset — reference-compatible literal mode
    * (reference get_insights_from_df, main.py:259-315).
    *
    * @param useFirst true = reference `first()` denormalization
    *                 (nondeterministic); false = `min` (deterministic). */
  def insightsForSubset(df: DataFrame, cfg: InsightsConfig, subset: Seq[String],
      thresholdCount: Long, useFirst: Boolean = true): DataFrame = {
    val valueCols = subset.flatMap(c => cfg.idValues.getOrElse(c, Nil))
    val pick: Column => Column = if (useFirst) first(_) else min(_)
    val aggs = valueCols.map(v => pick(col(s"`$v`")).as(v)) :+ count(lit(1)).as("count")
    val idCols = subset.filter(cfg.idValues.contains)

    val grouped = df
      .filter(subset.map(c => col(s"`$c`").isNotNull).reduce(_ && _)) // O6
      .groupBy(subset.map(c => col(s"`$c`")): _*)                     // O7
      .agg(aggs.head, aggs.tail: _*)                                  // O7/O8
      .filter(col("count") >= thresholdCount)                         // O9
      .drop(idCols: _*)                                               // O10

    // O11/O12: format every non-count column as key=value / key=[lo-hi]
    val formatted = grouped.columns.foldLeft(grouped) { (d, c) =>
      if (c == "count") d
      else cfg.buckets.get(c) match {
        case Some(w) => d.withColumn(c, concat(lit(s"$c="), bucketLabel(col(s"`$c`"), w)))
        case None    => d.withColumn(c, concat(lit(s"$c="), col(s"`$c`").cast("string")))
      }
    }
    // O13: concat_ws over all columns (count rides along bare — semantic #1)
    formatted
      .withColumn("insight",
        concat_ws(";", formatted.columns.map(c => col(s"`$c`")).toSeq: _*))
      .select("insight")
  }

  /** All non-empty subsets of the grouping columns, sizes ascending,
    * canonical order inside each subset (reference itertools.combinations
    * order, main.py:345-348). */
  def allSubsets(cols: Seq[String]): Seq[Seq[String]] =
    (1 to cols.length).flatMap(k => cols.combinations(k).toSeq)

  /** O15 literal mode: enumerate all subsets, batch `unionAll`
    * (reference main.py:328-360). Returns one DataFrame per batch. */
  def enumerateLoop(df: DataFrame, cfg: InsightsConfig, totalCount: Long,
      batchSize: Int = 128, useFirst: Boolean = true): Seq[DataFrame] = {
    val threshold = cfg.thresholdCount(totalCount)
    val bucketed = bucket(df, cfg.buckets) // idempotent if already bucketed
    allSubsets(cfg.groupingCols)
      .map(s => insightsForSubset(bucketed, cfg, s, threshold, useFirst))
      .grouped(batchSize)
      .map(_.reduce(_ unionAll _))
      .toSeq
  }

  /** O15 scale mode: ONE `cube()` shuffle over all 2^k−1 subsets.
    *
    * Pipeline: bucket → render every grouping col to its final label
    * string (bucket labels pre-computed — semantic #3) → coalesce NULLs
    * to a sentinel → cube + count + min/first(value cols) →
    * post-filter on grouping_id (drop the global aggregate = empty
    * subset; drop groups whose grouped keys hit the sentinel = semantic
    * #4; threshold) → conditional per-column formatting driven by
    * grouping bits → concat_ws.
    *
    * @param totalCount pre-computed N (one count action, reference
    *                   main.py:344); threshold = floor(p/100*N).
    *
    * No route calls it since `insightsPruned`; PlayStoreGoldenSpec proves
    * it against the loop on the reference fixture, and the native and
    * pruned cubes are pinned against it or the loop in turn. */
  def insightsCube(df: DataFrame, cfg: InsightsConfig, totalCount: Long,
      useFirst: Boolean = false): DataFrame = {
    val threshold = cfg.thresholdCount(totalCount)
    val k = cfg.groupingCols.length
    require(k <= 30, s"cube over $k cols overflows grouping_id int range")

    val bucketed = bucket(df, cfg.buckets)

    // Render grouping keys to their final display strings BEFORE the cube:
    // grouping on the label string is equivalent to grouping on the bucket
    // value, and post-cube formatting then never needs the raw value.
    // Value columns stay NATIVE here: min() must aggregate over the native
    // type (lexicographic min over stringified numerics diverges from
    // numeric min — "10" < "9"), matching loop mode; the cast to string
    // happens at render time below.
    val labeled = bucketed.select(
      cfg.groupingCols.map { c =>
        val rendered = cfg.buckets.get(c) match {
          case Some(w) => bucketLabel(col(s"`$c`"), w)
          case None    => col(s"`$c`").cast("string")
        }
        coalesce(rendered, lit(NullSentinel)).as(c)
      } ++ cfg.valueCols.map(v => col(s"`$v`").as(v)): _*)

    val pick: Column => Column = if (useFirst) first(_) else min(_)
    val aggExprs = count(lit(1)).as("count") +: grouping_id().as("gid") +:
      cfg.valueCols.map(v => pick(col(s"`$v`")).as(v))
    val cubed = labeled
      .cube(cfg.groupingCols.map(c => col(s"`$c`")): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)

    // Bit for grouping col i (leftmost = most significant): 1 = aggregated
    // away (not in the subset), 0 = grouped.
    def groupedBit(i: Int): Column =
      (shiftright(col("gid"), k - 1 - i).bitwiseAND(1)) === 0

    val anySentinel = cfg.groupingCols.zipWithIndex
      .map { case (c, i) => groupedBit(i) && col(s"`$c`") === NullSentinel }
      .reduce(_ || _)

    val filtered = cubed
      .filter(col("gid") =!= ((1L << k) - 1)) // drop the empty subset
      .filter(!anySentinel)                   // semantic #4
      .filter(col("count") >= threshold)      // O9

    // Term order (semantic #2): non-id grouping cols in canonical order,
    // then value cols (only when their id col is grouped), then bare count.
    val keyTerms = cfg.groupingCols.zipWithIndex
      .filterNot { case (c, _) => cfg.idValues.contains(c) }
      .map { case (c, i) =>
        when(groupedBit(i), concat(lit(s"$c="), col(s"`$c`"))) // else NULL -> skipped
      }
    val valueTerms = cfg.groupingCols.zipWithIndex
      .filter { case (c, _) => cfg.idValues.contains(c) }
      .flatMap { case (c, i) =>
        cfg.idValues(c).map(v =>
          when(groupedBit(i), concat(lit(s"$v="), col(s"`$v`").cast("string"))))
      }
    val terms = keyTerms ++ valueTerms :+ col("count").cast("string")

    filtered.select(concat_ws(";", terms: _*).as("insight"))
  }

  /** The native-key cube family's equivalence to the golden string-key
    * path relies on label rendering being INJECTIVE on the grouping
    * domain. IEEE floats break injectivity both ways (-0.0 and 0.0
    * render as distinct labels but native grouping normalizes them into
    * one group; NaN bit patterns the reverse), so unbucketed
    * float/double grouping columns are rejected up front — bucketing
    * floors them to Long, which is the supported spelling. */
  private def requireNonFloatKeys(bucketed: DataFrame, cfg: InsightsConfig): Unit = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val bad = cfg.groupingCols.filter { c =>
      bucketed.schema(c).dataType match {
        case DoubleType | FloatType => true
        case _                      => false
      }
    }
    require(bad.isEmpty, "native-key cube requires non-floating grouping " +
      s"columns (give them a bucket width to floor to long): ${bad.mkString(", ")}")
  }

  /** 1 = the column was aggregated away by the cube; 0 = grouped. Bit i
    * is the i-th grouping column, leftmost = most significant. */
  private def groupedBitOf(k: Int)(i: Int): Column =
    (shiftright(col("gid"), k - 1 - i).bitwiseAND(1)) === 0

  /** Post-cube filters shared by the native-key variants: drop the empty
    * subset, drop groups keyed on a DATA null (grouped bit set + null
    * value — the gid bit supplies what the string path's sentinel
    * encoded; semantic #4), apply the HAVING threshold (O9). */
  private def filterCubedNative(cubed: DataFrame, cfg: InsightsConfig,
      threshold: Long): DataFrame = {
    val k = cfg.groupingCols.length
    val groupedBit = groupedBitOf(k) _
    val anyDataNull = cfg.groupingCols.zipWithIndex
      .map { case (c, i) => groupedBit(i) && col(s"`$c`").isNull }
      .reduce(_ || _)
    cubed
      .filter(col("gid") =!= ((1L << k) - 1))
      .filter(!anyDataNull)
      .filter(col("count") >= threshold)
  }

  /** Post-filter rendering shared by the native-key variants: bucket
    * labels / string casts computed only for surviving groups, reference
    * term order (semantic #2), bare trailing count (semantic #1). */
  private def renderNative(filtered: DataFrame, cfg: InsightsConfig): DataFrame = {
    val k = cfg.groupingCols.length
    val groupedBit = groupedBitOf(k) _
    def rendered(c: String): Column = cfg.buckets.get(c) match {
      case Some(w) => bucketLabel(col(s"`$c`"), w)
      case None    => col(s"`$c`").cast("string")
    }
    val keyTerms = cfg.groupingCols.zipWithIndex
      .filterNot { case (c, _) => cfg.idValues.contains(c) }
      .map { case (c, i) =>
        when(groupedBit(i), concat(lit(s"$c="), rendered(c)))
      }
    val valueTerms = cfg.groupingCols.zipWithIndex
      .filter { case (c, _) => cfg.idValues.contains(c) }
      .flatMap { case (c, i) =>
        cfg.idValues(c).map(v =>
          when(groupedBit(i), concat(lit(s"$v="), col(s"`$v`").cast("string"))))
      }
    val terms = keyTerms ++ valueTerms :+ col("count").cast("string")
    filtered.select(concat_ws(";", terms: _*).as("insight"))
  }

  /** NATIVE-KEY cube — result ≡ `insightsCube` (equality-tested in
    * InsightsRandomizedSpec), but the cube groups on the RAW bucketed
    * values and renders display labels only AFTER the HAVING filter.
    * Two consequences at scale:
    *  - the Expand and both aggregate phases carry narrow native keys
    *    (longs/ints) instead of label strings — cheaper hashing, and
    *    when the partial-agg map overflows on Σ|groups| (the measured
    *    k≥8 wall, SCALE.md), the spill sort compares 8-byte values
    *    instead of UTF8 strings;
    *  - no null sentinel: a data-null in a grouped column and a cube
    *    "aggregated away" null are distinguished by the grouping_id bit
    *    (bit=0 + null value = data null → dropped, semantic #4), which
    *    is the information the sentinel string existed to preserve.
    * Rendering post-filter is sound because label rendering (bucketLabel
    * / cast-to-string) is injective on the bucketed domain — enforced by
    * `requireNonFloatKeys` (floats are the one type family where native
    * grouping and label grouping disagree). Kept as a sibling of the
    * golden-proven string-key path; StressCube reports both.
    *
    * Caveat when `cfg.idValues` is non-empty: the min/first(string)
    * value-column buffers are non-fixed-width, which forces the cube
    * aggregate below the 2^k Expand to SortAggregate —
    * `insightsCubeNativeDict` is the production shape for id→value
    * configs (count-only HashAggregate + post-filter dictionary join). */
  def insightsCubeNative(df: DataFrame, cfg: InsightsConfig, totalCount: Long,
      useFirst: Boolean = false): DataFrame = {
    val threshold = cfg.thresholdCount(totalCount)
    val k = cfg.groupingCols.length
    require(k <= 30, s"cube over $k cols overflows grouping_id int range")

    val bucketed = bucket(df, cfg.buckets)
    requireNonFloatKeys(bucketed, cfg)
    val pick: Column => Column = if (useFirst) first(_) else min(_)
    val aggExprs = count(lit(1)).as("count") +: grouping_id().as("gid") +:
      cfg.valueCols.map(v => pick(col(s"`$v`")).as(v))
    val cubed = bucketed
      .cube(cfg.groupingCols.map(c => col(s"`$c`")): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    renderNative(filterCubedNative(cubed, cfg, threshold), cfg)
  }

  /** Un-thresholded, un-rendered native cube core: the grouping columns
    * (raw bucket values), `gid`, `count`, plus `min` per value column.
    * This is the MERGEABLE form of the cube — counts are additive and
    * mins re-min per (keys, gid) — which is what
    * [[insightsCubeIncremental]] unions across snapshots and what the
    * streaming foreachBatch maintenance job
    * (`streaming.StreamingInsights`) persists as the materialized view.
    * The all-bits-set gid row holds the global row count, so a stored
    * core carries its own HAVING total — no side-channel N. */
  def cubeCoreNative(df: DataFrame, cfg: InsightsConfig): DataFrame = {
    // same grouping_id overflow guard as every other cube entry point:
    // the incremental/streaming paths route through here and would
    // otherwise silently corrupt gid on >30 grouping columns
    require(cfg.groupingCols.length <= 30,
      s"cube over ${cfg.groupingCols.length} cols overflows grouping_id int range")
    val bucketed = bucket(df, cfg.buckets)
    requireNonFloatKeys(bucketed, cfg)
    val aggExprs = count(lit(1)).as("count") +: grouping_id().as("gid") +:
      cfg.valueCols.map(v => min(col(s"`$v`")).as(v))
    bucketed.cube(cfg.groupingCols.map(c => col(s"`$c`")): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
  }

  /** INCREMENTAL cube maintenance — the materialized-view shape of the
    * insights engine: when a corpus grows by a delta, the full-powerset
    * insight table of base ∪ delta is the per-(keys, gid) SUM of the two
    * un-thresholded cube cores; only the HAVING threshold and the label
    * rendering are recomputed on the merged (tiny) result, because the
    * threshold ⌊p·(N₁+N₂)/100⌋ is a property of the UNION, not of
    * either part. At 100 TB this is the difference between cubing a
    * daily delta (and merging into yesterday's materialized core) and
    * re-cubing the whole corpus every day: the merge's input is two
    * aggregate tables of Σ|groups| rows, never raw data. Every measure
    * carried is MERGEABLE: counts sum, `min` value columns re-min
    * (associative + commutative); `first` would not merge, which is one
    * more reason the declared engine pins `min` for denorm (SURVEY
    * §7.5.1).
    *
    * Result ≡ `insightsCubeNative(base ∪ delta)` — the declared query's
    * DuckDB oracle IS the full recompute, so the equivalence is
    * hash-checked, not just unit-tested. */
  def insightsCubeIncremental(base: DataFrame, delta: DataFrame,
      cfg: InsightsConfig, totalCount: Long): DataFrame = {
    val merged = mergeCoresNative(
      cubeCoreNative(base, cfg), cubeCoreNative(delta, cfg), cfg)
    renderCoreNative(merged, cfg, totalCount)
  }

  /** Merge two native cores per (keys, gid): counts sum, value mins
    * re-min. Associative and commutative — a fold over any number of
    * deltas in any order lands on the same core. Union is BY NAME and
    * the output is projected back to [[cubeCoreNative]]'s column order:
    * one operand is typically a core read back from storage, and a
    * positional union against a fresh cube would silently pair `count`
    * with `gid` (both integral — no analyzer error, just a corrupted
    * core two merges later). */
  def mergeCoresNative(a: DataFrame, b: DataFrame,
      cfg: InsightsConfig): DataFrame = {
    val keyCols = cfg.groupingCols.map(c => col(s"`$c`")) :+ col("gid")
    val mergeExprs = sum(col("count")).as("count") +:
      cfg.valueCols.map(v => min(col(s"`$v`")).as(v))
    a.unionByName(b).groupBy(keyCols: _*)
      .agg(mergeExprs.head, mergeExprs.tail: _*)
      .select((cfg.groupingCols.map(c => col(s"`$c`")) ++
        Seq(col("count"), col("gid")) ++
        cfg.valueCols.map(v => col(s"`$v`"))): _*)
  }

  /** Serve a (merged) native core: HAVING threshold at
    * ⌊p·totalCount/100⌋, then label rendering — the read side of the
    * materialized-view pair ([[cubeCoreNative]] writes, this serves). */
  def renderCoreNative(core: DataFrame, cfg: InsightsConfig,
      totalCount: Long): DataFrame = {
    val threshold = cfg.thresholdCount(totalCount)
    renderNative(filterCubedNative(core, cfg, threshold), cfg)
  }

  /** Native-key cube with DICTIONARY value re-attachment — the scale-mode
    * production shape for configs with id→value display columns (the
    * full Play-Store pipeline). The cube aggregate carries ONLY
    * `count` + `grouping_id` — fixed-width buffers, so the aggregate
    * below the 2^k Expand stays a HashAggregate (min/first over a string
    * value column would force SortAggregate exactly where row volume is
    * ×2^k; PlanSpec asserts the shape). Value columns are re-attached
    * AFTER the HAVING filter via broadcast joins against tiny per-id
    * dictionaries (min value per id — equal to per-group min whenever
    * value columns are functionally determined by their id column; the
    * dictionaries' own min(string) SortAggregates run over |distinct id|
    * rows, never below an Expand). An id column aggregated away by the
    * cube carries a NULL key, so the left join attaches nothing and the
    * term stays suppressed. */
  def insightsCubeNativeDict(df: DataFrame, cfg: InsightsConfig,
      totalCount: Long): DataFrame = {
    val bucketed = bucket(df, cfg.buckets)
    dictCube(bucketed, bucketed, cfg, cfg.thresholdCount(totalCount))
  }

  /** The native-dict cube over `cubeInput`, display values from the
    * dictionaries of `dictSource` (both already bucketed). */
  private def dictCube(cubeInput: DataFrame, dictSource: DataFrame,
      cfg: InsightsConfig, threshold: Long): DataFrame = {
    val k = cfg.groupingCols.length
    require(k <= 30, s"cube over $k cols overflows grouping_id int range")
    requireNonFloatKeys(cubeInput, cfg)
    val cubed = cubeInput
      .cube(cfg.groupingCols.map(c => col(s"`$c`")): _*)
      .agg(count(lit(1)).as("count"), grouping_id().as("gid"))
    renderNative(
      attachDictionaries(filterCubedNative(cubed, cfg, threshold), dictSource, cfg), cfg)
  }

  /** Re-attach each grouped id column's display values after the HAVING
    * filter: a broadcast left join against a per-id dictionary of
    * `source` (min value per non-null id). An id column aggregated away
    * by the cube carries a NULL key, so the join attaches nothing and the
    * term stays suppressed. */
  private def attachDictionaries(filtered: DataFrame, source: DataFrame,
      cfg: InsightsConfig): DataFrame =
    cfg.groupingCols.filter(cfg.idValues.contains).foldLeft(filtered) { (d, idCol) =>
      val vals = cfg.idValues(idCol)
      val dict = source
        .filter(col(s"`$idCol`").isNotNull)
        .groupBy(col(s"`$idCol`").as(s"__dict_$idCol"))
        .agg(min(col(s"`${vals.head}`")).as(vals.head),
          vals.tail.map(v => min(col(s"`$v`")).as(v)): _*)
      d.join(broadcast(dict), col(s"`$idCol`") === col(s"__dict_$idCol"), "left")
        .drop(s"__dict_$idCol")
    }

  /** ICEBERG support pruning — the high-cardinality answer that the
    * hybrid split approximates by brute force. The HAVING threshold is
    * an iceberg condition, and `count` is monotone under grouping
    * refinement: for any subset S containing column c, a group g of S
    * satisfies count(g) ≤ count(c = g_c) — the group refines the
    * single-column group on its own c-value. Hence a row whose c-value
    * occurs fewer than `threshold` times in the whole input can NEVER
    * contribute to a surviving group of any subset containing c, and
    * excluding such rows from those subsets changes nothing: groups
    * keyed on popular c-values keep every one of their rows (a row is
    * excluded iff its c-value is unpopular, i.e. it belongs to some
    * doomed group, never to a surviving one). This is the classic
    * iceberg-cube/BUC a-priori bound, applied only to the declared
    * high-cardinality columns (for low-card columns the filter keeps
    * ~everything and just costs a pass).
    *
    * Execution: partition the 2^k−1 subsets by T = S ∩ H (H = high-card
    * set, |H| ≤ 4 enforced). For each T, ONE native-dict cube over
    * lowCols ∪ T with input semi-filtered to rows whose T-values are all
    * popular, post-filtered to grouping_ids where every column of T is
    * actually grouped (so each subset is produced by exactly one
    * T-cube). The T ≠ ∅ cubes see ≤ N/threshold distinct values per
    * high-card column — with a 2 % threshold that is ≤ 50 values, so the
    * Σ|groups| partial-agg state that makes high-card cubes explode
    * (SCALE.md k=8 wall) collapses to the popular slice; when NO value
    * is popular the T-cube input is empty and the whole dev-containing
    * half of the powerset is proven empty by one narrow aggregate.
    * Result ≡ `insightsCubeNativeDict` over the full config
    * (equality-tested in InsightsRandomizedSpec).
    *
    * No route calls it since `insightsPruned` prunes every column; kept
    * for InsightsRandomizedSpec, PlanSpec's iceberg pin and
    * StressPowerset's `iceberg` mode until the k=14 lattice numbers. */
  def insightsCubeIceberg(df: DataFrame, cfg: InsightsConfig, totalCount: Long,
      highCard: Set[String]): DataFrame = {
    val threshold = cfg.thresholdCount(totalCount)
    val h = cfg.groupingCols.filter(highCard)
    require(h.size <= 4, s"iceberg pruning over ${h.size} high-card columns " +
      "unions 2^|H| cubes — split the config instead")
    val lowCols = cfg.groupingCols.filterNot(highCard)
    val bucketed = bucket(df, cfg.buckets)
    requireNonFloatKeys(bucketed, cfg)
    // per-column popular-value relations (≤ N/threshold rows each):
    // computed once, broadcast into every T-cube that prunes on them
    val popular: Map[String, DataFrame] = h.map { c =>
      c -> bucketed.filter(col(s"`$c`").isNotNull)
        .groupBy(col(s"`$c`"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= threshold)
        .select(col(s"`$c`").as(s"__pop_$c"))
    }.toMap
    val parts = h.toSet.subsets().toSeq.map { tSet =>
      val colsT = cfg.groupingCols.filter(c => !highCard(c) || tSet(c))
      val cfgT = cfg.copy(groupingCols = colsT)
      val input = tSet.foldLeft(bucketed) { (d, c) =>
        d.join(broadcast(popular(c)),
          col(s"`$c`") === col(s"__pop_$c"), "left_semi")
      }
      val kT = colsT.length
      val cubed = bucket(input, cfg.buckets) // idempotent; keeps helper contract
        .cube(colsT.map(c => col(s"`$c`")): _*)
        .agg(count(lit(1)).as("count"), grouping_id().as("gid"))
      // keep only subsets with ALL of T grouped: each subset S is then
      // emitted by exactly the T = S ∩ H cube
      val groupedBit = groupedBitOf(kT) _
      val allTGrouped = tSet.toSeq match {
        case Nil => lit(true)
        case ts  => ts.map(c => groupedBit(colsT.indexOf(c))).reduce(_ && _)
      }
      val filtered = filterCubedNative(cubed, cfgT, threshold)
        .filter(allTGrouped)
      renderNative(attachDictionaries(filtered, bucketed, cfgT), cfgT)
    }
    parts.reduce(_ unionAll _)
  }

  /** Hybrid enumeration — the mitigation for the measured cube
    * scaling boundary (SCALE.md): Σ_subsets |groups| explodes when
    * high-cardinality columns enter the cube. Subsets entirely within
    * the low-cardinality columns run as ONE cube; every subset touching
    * a high-cardinality column runs as its own aggregate (loop mode,
    * where the per-subset group count stays bounded by the data, not
    * multiplied across 2^k subsets). Result ≡ full `insightsCube`
    * (equality-tested in PlayStoreGoldenSpec).
    *
    * No route calls it since `insightsPruned`; kept for PlayStoreGoldenSpec,
    * InsightsRandomizedSpec and StressPowerset's `hybrid` mode until the
    * k=14 lattice numbers. */
  /** @param dictValues route the cube half through
    *   `insightsCubeNativeDict` (count-only HashAggregate below the
    *   Expand; id→value display via broadcast dictionaries) — pair it
    *   with `useFirst = false` so the loop half's `min` agrees with the
    *   dictionaries' min-under-functional-dependency semantics. */
  def insightsHybrid(df: DataFrame, cfg: InsightsConfig, totalCount: Long,
      highCard: Set[String], useFirst: Boolean = false,
      dictValues: Boolean = false): DataFrame = {
    val threshold = cfg.thresholdCount(totalCount)
    val lowCols = cfg.groupingCols.filterNot(highCard)
    // all-high-card edge: no subset lives entirely in the (empty) cube side
    val cubePart =
      if (lowCols.isEmpty) df.sparkSession.emptyDataFrame
        .select(lit("").as("insight")).limit(0)
      else if (dictValues)
        insightsCubeNativeDict(df, cfg.copy(groupingCols = lowCols), totalCount)
      else insightsCubeNative(df, cfg.copy(groupingCols = lowCols), totalCount, useFirst)
    val bucketed = bucket(df, cfg.buckets)
    val loopParts = allSubsets(cfg.groupingCols)
      .filter(_.exists(highCard))
      .map(s => insightsForSubset(bucketed, cfg, s, threshold, useFirst))
    (cubePart +: loopParts).reduce(_ unionAll _)
  }

  /** The level-1 statistics of the insights lattice.
    *
    * @param n         total row count N (the reference's count action, O19)
    * @param threshold `cfg.thresholdCount(n)`
    * @param popular   per grouping column, its non-null values whose
    *                  single-column group holds ≥ threshold rows, with those
    *                  counts; empty when threshold < 1, where every value
    *                  clears the HAVING and nothing is pruned */
  case class LevelOne(n: Long, threshold: Long, popular: Map[String, Seq[(Any, Long)]]) {
    def pruning: Boolean = threshold >= 1

    /** The grouping columns that can appear in a surviving group, in
      * canonical order: none when N = 0, all when nothing is pruned,
      * otherwise those with at least one popular value. */
    def kept(cfg: InsightsConfig): Seq[String] =
      if (n == 0) Nil
      else if (!pruning) cfg.groupingCols
      else cfg.groupingCols.filter(c => popular(c).nonEmpty)
  }

  /** The level-1 aggregate: ONE grouping-sets aggregate over `()` and each
    * single grouping column, carrying only count and grouping_id — a
    * fixed-width HashAggregate over k+1 projections per row. */
  def levelOneCounts(df: DataFrame, cfg: InsightsConfig): DataFrame = {
    val k = cfg.groupingCols.length
    require(k <= 30, s"cube over $k cols overflows grouping_id int range")
    val bucketed = bucket(df, cfg.buckets)
    requireNonFloatKeys(bucketed, cfg)
    val cols = cfg.groupingCols.map(c => col(s"`$c`"))
    bucketed
      .groupingSets(Nil +: cols.map(Seq(_)), cols: _*)
      .agg(count(lit(1)).as("count"), grouping_id().cast("long").as("gid"))
  }

  /** Level 1 of the Apriori/BUC lattice (Beyer & Ramakrishnan, SIGMOD
    * 1999) from one pass over the input: N, the threshold, and each
    * column's popular values. The aggregate is persisted for its two
    * reads and unpersisted before returning. The driver receives at most
    * k·(N/threshold) + 1 rows (at most N/threshold groups of one column,
    * its null group included, can each hold ≥ threshold of its N rows;
    * N/threshold ≤ 2·100/p once threshold ≥ 1), never a data-sized
    * result. */
  def levelOne(df: DataFrame, cfg: InsightsConfig): LevelOne = {
    val k = cfg.groupingCols.length
    val none = (1L << k) - 1 // gid of (): every column aggregated away
    val counts = levelOneCounts(df, cfg).persist()
    try {
      // over empty input the grouping-sets output has no () row at all
      val n = counts.filter(col("gid") === none).select("count").collect()
        .headOption.fold(0L)(_.getLong(0))
      val threshold = cfg.thresholdCount(n)
      val popular =
        if (threshold < 1) Map.empty[String, Seq[(Any, Long)]]
        else {
          val rows = counts
            .filter(col("gid") =!= none && col("count") >= threshold).collect()
          cfg.groupingCols.zipWithIndex.map { case (c, i) =>
            val gid = none ^ (1L << (k - 1 - i))
            c -> rows.toSeq.collect {
              case r if r.getLong(k + 1) == gid && !r.isNullAt(i) => (r.get(i), r.getLong(k))
            }
          }.toMap
        }
      LevelOne(n, threshold, popular)
    } finally counts.unpersist(blocking = true)
  }

  /** Scale-mode insights with level-1 pruning of EVERY column — the body
    * `PlayStore.extractScale` runs. `count` is monotone under grouping
    * refinement, so a group keyed on a value whose single-column count is
    * below the threshold is itself below it. Each such value is mapped to
    * NULL before the cube, and the data-null drop (semantic #4,
    * `filterCubedNative`) removes the groups it lands in; groups keyed on
    * popular values keep every row, so the result is exact. A column with
    * no popular value leaves the cube (every subset containing it is
    * empty), which halves the Expand per column dropped. The cube is the
    * native-dict cube over the kept columns: a count-only HashAggregate,
    * and display values from broadcast dictionaries that hold only
    * popular ids (unpopular ids are NULL there too).
    * Result ≡ `enumerateLoop` with `min` (InsightsRandomizedSpec).
    *
    * The Expand runs BEFORE the first shuffle, so each task expands its
    * input partition 2^|kept|-fold (SCALE.md): a small CSV arriving as one
    * split would put the whole Expand and partial aggregate in ONE task.
    * The cube input is re-balanced to the core count when the scan gives
    * fewer splits; at scale, input splits bound it already. The
    * dictionaries aggregate only popular ids and read the scan as is. */
  def insightsPruned(df: DataFrame, cfg: InsightsConfig, l1: LevelOne): DataFrame = {
    val kept = l1.kept(cfg)
    if (kept.isEmpty) df.sparkSession.emptyDataFrame.select(lit("").as("insight"))
    else {
      val bucketed = bucket(df, cfg.buckets)
      val pruned =
        if (!l1.pruning) bucketed
        else bucketed.select(bucketed.columns.toSeq.map { c =>
          if (kept.contains(c))
            when(col(s"`$c`").isin(l1.popular(c).map(_._1): _*), col(s"`$c`")).as(c)
          else col(s"`$c`")
        }: _*)
      val cores = df.sparkSession.sparkContext.defaultParallelism
      val cubeInput =
        if (pruned.rdd.getNumPartitions < cores) pruned.repartition(cores) else pruned
      dictCube(cubeInput, pruned, cfg.copy(groupingCols = kept), l1.threshold)
    }
  }

  def insightsPruned(df: DataFrame, cfg: InsightsConfig): DataFrame =
    insightsPruned(df, cfg, levelOne(df, cfg))
}
