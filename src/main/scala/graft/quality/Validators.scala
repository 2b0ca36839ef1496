package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Validation result shape, mirroring the reference's
  * `{passed, errors, warnings, metrics}` contract
  * (reference `dags/utils/validators.py:75-80`,
  * `plugins/custom_operators/data_quality.py:79-85`). */
case class ValidationResult(
    passed: Boolean,
    errors: Seq[String],
    warnings: Seq[String],
    metrics: Map[String, Any]) {
  def ++(other: ValidationResult): ValidationResult = ValidationResult(
    passed && other.passed, errors ++ other.errors,
    warnings ++ other.warnings, metrics ++ other.metrics)
}

/** One quality gate: the named aggregate probes it reads and the reader
  * that turns their values into a result. The reader sees only its own
  * probes, so gates sharing an aggregation never collide. A gate with no
  * probes is decided on the driver and runs no job. */
final case class Gate(probes: Seq[Column], read: Row => ValidationResult)

/** Data-quality gates (SURVEY.md §2.3 P10–P17, §3.2; reference
  * `dags/utils/validators.py:64-459`) as one mechanism: every probe
  * (null counts, min/max, thresholds, the symbol set) is an aggregate
  * expression, [[runGates]] evaluates any number of [[Gate]]s over one
  * frame in ONE `df.agg`, and [[validateRawSources]] evaluates the raw
  * gate over N frames as ONE grouped aggregation — the shared-scan
  * constraint suite of Deequ (Schelter et al., VLDB 2018). No probe is
  * a distinct aggregate, so no gate pays the distinct-aggregate
  * rewrite's second shuffle. The public validators are one-gate calls.
  *
  * Measured job counts on a 4-core local session (AQE on): each public
  * validator submits 2 jobs over an in-memory frame (the partial
  * aggregate, then the final row) and 3 over the merged frame (its
  * keep-first shuffle adds one). `countDistinct(symbol)` used to make
  * `validateRaw` 3 and `validateTransformed` 4 of those. Three gates
  * fused over the merged frame cost the 3 jobs of one.
  */
object Validators {

  private def nullCount(c: String): Column =
    count(when(col(c).isNull, 1)).as(s"null_$c")

  private val rawColumns =
    Seq("date", "symbol", "open", "high", "low", "close", "volume", "data_source")

  private val transformedColumns =
    rawColumns ++ Seq("processed_at", "daily_change_pct", "daily_volatility")

  private val ageWarnDays = 365

  private val emptyInput = ValidationResult(passed = false, errors = Seq("empty input"),
    warnings = Nil, metrics = Map("row_count" -> 0L))

  /** Run every gate over `df` in ONE `df.agg` (each gate's probes in
    * their own struct column); results in gate order. */
  def runGates(df: DataFrame, gates: Seq[Gate]): Seq[ValidationResult] = {
    val cols = gates.zipWithIndex.collect {
      case (g, i) if g.probes.nonEmpty => struct(g.probes: _*).as(s"gate$i")
    }
    lazy val row = df.agg(cols.head, cols.tail: _*).collect()(0)
    gates.zipWithIndex.map { case (g, i) =>
      g.read(if (g.probes.isEmpty) Row.empty else row.getStruct(row.fieldIndex(s"gate$i")))
    }
  }

  /** The raw-data gate (reference `validators.py:64-162`): empty input,
    * negative close, future dates and null close are errors; data older
    * than `ageWarnDays` is a warning; every probe value is a metric.
    * Probes exist only for the columns the caller requires — a column
    * list without `close`/`symbol`/`date` degrades to fewer probes, not
    * an unresolved-column error. A frame with these `columns` that
    * misses a required column gets its result on the driver.
    *
    * `unique_symbols` is exact: `size(collect_set(symbol))`, whose
    * aggregation buffer holds every distinct symbol, so its memory is
    * bounded by the distinct-symbol count, not the row count. */
  def rawGate(
      columns: Seq[String],
      requiredColumns: Seq[String] = rawColumns,
      today: Column = current_date()): Gate = {
    val missing = requiredColumns.filterNot(columns.contains)
    if (missing.nonEmpty)
      return Gate(Nil, _ => ValidationResult(passed = false,
        errors = Seq(s"missing required columns: ${missing.mkString(",")}"),
        warnings = Nil, metrics = Map("missing_columns" -> missing)))

    val has = requiredColumns.toSet
    val dateCol = to_date(col("date"))
    val probes: Seq[Column] = Seq(count(lit(1)).as("row_count")) ++
      (if (has("symbol"))
        Seq(size(collect_set(col("symbol"))).cast("long").as("unique_symbols"))
      else Nil) ++
      (if (has("close")) Seq(
        min(col("close")).as("min_close"),
        max(col("close")).as("max_close"),
        count(when(col("close") < 0, 1)).as("negative_close")) else Nil) ++
      (if (has("date")) Seq(
        count(when(dateCol > today, 1)).as("future_dates"),
        min(dateCol).as("oldest_date"),
        max(dateCol).as("newest_date"),
        // P14 (reference validators.py:146-150): any bars older than a
        // year draw a warning.
        max(when(dateCol < date_sub(today, ageWarnDays), 1).otherwise(0))
          .as("age_warn")) else Nil) ++
      requiredColumns.map(nullCount)

    Gate(probes, r => if (r.getLong(r.fieldIndex("row_count")) == 0) emptyInput else {
      def longOr0(f: String): Long =
        if (r.schema.fieldNames.contains(f)) r.getLong(r.fieldIndex(f)) else 0L
      val errors = Seq(
        (longOr0("negative_close") > 0) ->
          s"${longOr0("negative_close")} rows with negative close",
        (longOr0("future_dates") > 0) ->
          s"${longOr0("future_dates")} rows with future dates",
        (longOr0("null_close") > 0) -> s"${longOr0("null_close")} null close values"
      ).collect { case (true, msg) => msg }

      val ageWarning =
        if (r.schema.fieldNames.contains("age_warn") && r.getInt(r.fieldIndex("age_warn")) == 1)
          Seq(s"data older than $ageWarnDays days present " +
            s"(oldest=${r.get(r.fieldIndex("oldest_date"))})")
        else Nil

      ValidationResult(
        passed = errors.isEmpty,
        errors = errors,
        warnings = ageWarning,
        metrics = r.schema.fieldNames.map(f => f -> r.get(r.fieldIndex(f))).toMap)
    })
  }

  /** Raw-data validation (reference `validators.py:64-162`): empty
    * check, required columns, negative close, future dates, null
    * profile — one aggregation. */
  def validateRaw(
      df: DataFrame,
      requiredColumns: Seq[String] = rawColumns,
      today: Column = current_date()): ValidationResult =
    runGates(df, Seq(rawGate(df.columns, requiredColumns, today))).head

  /** [[validateRaw]] over N sources as ONE grouped aggregation: each
    * source's required columns are tagged with its index, the sources
    * are unioned by name, and the raw gate's probes run under
    * `groupBy(__src)`. Results are in source order and equal
    * `validateRaw` per source. A source missing a required column gets
    * its result on the driver and joins no job; a source with no rows
    * has no group and reads "empty input". Fails fast when two sources
    * disagree on a required column's type: the union would widen it and
    * change the metrics' types. */
  def validateRawSources(
      sources: Seq[DataFrame],
      requiredColumns: Seq[String] = rawColumns,
      today: Column = current_date()): Seq[ValidationResult] = {
    val gates = sources.map(s => rawGate(s.columns, requiredColumns, today))
    val live = sources.indices.filter(i => gates(i).probes.nonEmpty)
    for (i <- live.drop(1); c <- requiredColumns) {
      val (t0, t) = (sources(live.head).schema(c).dataType, sources(i).schema(c).dataType)
      require(t0 == t, s"raw sources disagree on the type of column '$c': " +
        s"source ${live.head} has ${t0.simpleString}, source $i has ${t.simpleString}")
    }
    val rows: Map[Int, Row] =
      if (live.isEmpty) Map.empty
      else live.map(i => sources(i).select(requiredColumns.map(col) :+ lit(i).as("__src"): _*))
        .reduce(_ unionByName _)
        .groupBy(col("__src")).agg(struct(gates(live.head).probes: _*).as("gate"))
        .collect().map(r => r.getInt(0) -> r.getStruct(1)).toMap
    gates.zipWithIndex.map { case (g, i) =>
      if (g.probes.isEmpty) g.read(Row.empty) else rows.get(i).fold(emptyInput)(g.read)
    }
  }

  /** The transformed-data gate (reference `validators.py:165-251`): the
    * raw checks plus threshold warnings (close>10000, volume>1e9,
    * volatility>20), whose probes ride in the same gate. On empty input
    * every threshold count is 0, so the result stays "empty input". */
  def transformedGate(
      columns: Seq[String],
      today: Column = current_date(),
      priceCap: Double = 10000.0,
      volumeCap: Double = 1e9,
      volatilityCap: Double = 20.0): Gate = {
    val thresholds = Seq(
      count(when(col("close") > priceCap, 1)).as("over_price_cap"),
      count(when(col("volume") > volumeCap, 1)).as("over_volume_cap"),
      count(when(col("daily_volatility") > volatilityCap, 1)).as("over_volatility_cap"))
    val base = rawGate(columns, transformedColumns, today)
    if (base.probes.isEmpty) base
    else Gate(base.probes ++ thresholds, r => {
      def n(f: String): Long = r.getLong(r.fieldIndex(f))
      val b = base.read(r)
      b.copy(warnings = b.warnings ++ Seq(
        (n("over_price_cap") > 0) -> s"${n("over_price_cap")} rows with close > $priceCap",
        (n("over_volume_cap") > 0) -> s"${n("over_volume_cap")} rows with volume > $volumeCap",
        (n("over_volatility_cap") > 0) ->
          s"${n("over_volatility_cap")} rows with volatility > $volatilityCap"
      ).collect { case (true, msg) => msg })
    })
  }

  /** Transformed-data validation: [[transformedGate]] in one aggregation. */
  def validateTransformed(
      df: DataFrame,
      today: Column = current_date(),
      priceCap: Double = 10000.0,
      volumeCap: Double = 1e9,
      volatilityCap: Double = 20.0): ValidationResult =
    runGates(df, Seq(transformedGate(df.columns, today, priceCap, volumeCap, volatilityCap))).head

  /** Duplicate-key count (reference `validators.py:153,227`):
    * total extra rows beyond the first per key. */
  def duplicateCount(df: DataFrame, keys: Seq[String]): Long = {
    val r = df.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1)
      .agg(coalesce(sum(col("count") - 1), lit(0L)))
      .collect()(0)
    r.getLong(0)
  }

  /** The freshness gate (reference `validate_data_freshness`,
    * `validators.py:254-309`): newest date must be within `maxAgeDays`
    * of `today`. The batch analog of a watermark. */
  def freshnessGate(
      dateCol: String = "date", maxAgeDays: Int = 1, today: Column = current_date()): Gate =
    Gate(Seq(
      max(col(dateCol)).as("newest"),
      min(col(dateCol)).as("oldest"),
      max(when(col(dateCol) >= date_sub(today, maxAgeDays), 1).otherwise(0)).as("fresh")),
      r => {
        val fresh = !r.isNullAt(2) && r.getInt(2) == 1
        ValidationResult(
          passed = fresh,
          errors = if (fresh) Nil
            else Seq(s"stale data: newest=${r.get(0)} older than $maxAgeDays days"),
          warnings = Nil,
          metrics = Map("newest_date" -> r.get(0), "oldest_date" -> r.get(1)))
      })

  /** Freshness validation: [[freshnessGate]] in one aggregation. */
  def validateFreshness(
      df: DataFrame, dateCol: String = "date",
      maxAgeDays: Int = 1, today: Column = current_date()): ValidationResult =
    runGates(df, Seq(freshnessGate(dateCol, maxAgeDays, today))).head

  /** The symbol-coverage gate (reference `validate_symbol_coverage`,
    * `validators.py:312-365`): required − actual = missing, actual −
    * required = extra. The actual set is a `collect_set` probe, so its
    * size is bounded by the distinct-symbol count; null symbols are not
    * symbols and are skipped. */
  def coverageGate(required: Seq[String], symbolCol: String = "symbol"): Gate =
    Gate(Seq(collect_set(col(symbolCol)).as("symbols")), r => {
      val actual = r.getSeq[String](0).toSet
      val missing = required.toSet -- actual
      val extra = actual -- required.toSet
      ValidationResult(
        passed = missing.isEmpty,
        errors = if (missing.isEmpty) Nil
          else Seq(s"missing symbols: ${missing.toSeq.sorted.mkString(",")}"),
        warnings = if (extra.isEmpty) Nil
          else Seq(s"unexpected symbols: ${extra.toSeq.sorted.mkString(",")}"),
        metrics = Map("missing" -> missing.toSeq.sorted, "extra" -> extra.toSeq.sorted))
    })

  /** Symbol-coverage validation: [[coverageGate]] in one aggregation —
    * 2 jobs over an in-memory frame, 3 over the merged frame, as many as
    * the former `distinct()` then `collect()`. Its gain is that the gate
    * can share another gate's aggregation. */
  def validateCoverage(df: DataFrame, required: Seq[String],
      symbolCol: String = "symbol"): ValidationResult =
    runGates(df, Seq(coverageGate(required, symbolCol))).head

  /** Cross-source consistency (J2, reference `validators.py:233-244`):
    * the reference's O(symbols×dates) nested loop re-expressed as one
    * shuffle aggregation — groups with >1 source whose close values
    * diverge more than `maxPctDiff`. */
  def crossSourceInconsistencies(df: DataFrame, maxPctDiff: Double = 5.0): DataFrame = {
    df.groupBy(col("date"), col("symbol"))
      .agg(
        min(col("close")).as("min_close"),
        max(col("close")).as("max_close"),
        countDistinct(col("data_source")).as("n_sources"))
      .filter(col("n_sources") > 1)
      .withColumn("pct_diff", (col("max_close") - col("min_close")) / col("min_close") * 100)
      .filter(col("pct_diff") > maxPctDiff)
  }

  /** Schema-compatibility probe (reference
    * `validate_bigquery_schema_compatibility`, `validators.py:410-459`):
    * counts of values that fail to coerce to the declared type —
    * `try_cast(c as t) IS NULL AND c IS NOT NULL` per column, one pass.
    * try_cast (not cast) so the probe returns counts instead of
    * throwing under ANSI evaluation mode. */
  def castFailureCounts(df: DataFrame, declared: Map[String, String]): Map[String, Long] = {
    val probes = declared.toSeq.map { case (c, t) =>
      count(when(col(c).try_cast(t).isNull && col(c).isNotNull, 1)).as(c)
    }
    val r = df.agg(probes.head, probes.tail: _*).collect()(0)
    declared.keys.map(c => c -> r.getLong(r.fieldIndex(c))).toMap
  }

  /** Privacy-risk audit over a release candidate (Sweeney's
    * k-anonymity + Machanavajjhala's l-diversity): for every
    * quasi-identifier combination, the group size (re-identification
    * risk: a group smaller than k pins an individual to ≤ k-1 others)
    * and the number of distinct sensitive values (attribute-disclosure
    * risk: a group with < l values leaks the attribute even when the
    * individual stays anonymous). Every combination is reported with
    * both verdicts — the release gate downstream filters or
    * generalizes; the audit itself never hides a group. One hash
    * aggregate; output is bounded by the quasi-identifier domain. */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String, k: Int, l: Int): DataFrame = {
    require(quasiCols.nonEmpty && k >= 1 && l >= 1,
      "need quasi columns and positive k, l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("k_risk", col("group_size") < k)
      .withColumn("l_risk", col("n_sensitive") < l)
  }

  /** K-anonymization by generalization ladder — the RELEASE
    * counterpart to [[kAnonymityAudit]]'s report: the audit says
    * which groups re-identify; this operator picks the MINIMAL
    * generalization level (from a stated ladder of coarsening
    * expressions — exact values → bands → coarse bands → full
    * suppression, Sweeney's domain-generalization hierarchy) at which
    * EVERY equivalence class reaches size ≥ k, and emits the classes
    * at that level. Minimality is the utility contract: generalizing
    * past the first satisfying level destroys information k-anonymity
    * never asked for. If even the coarsest level fails, the coarsest
    * is emitted with its residual classes flagged `meets_k = false`
    * (the release gate's decision to suppress them stays visible,
    * never silent).
    *
    * Shape: one hash aggregate per ladder level (levels are a stated
    * config list — 3-5 rungs, not data-driven) and one driver-side
    * min per level (the Sampling.scala config-sized-collect
    * precedent: L scalars, never data). Class output is bounded by
    * the quasi-identifier domain at the chosen level. */
  def kAnonymize(df: DataFrame, levels: Seq[Seq[Column]],
                 names: Seq[String], k: Long): DataFrame = {
    require(levels.nonEmpty, "need at least one generalization level")
    require(levels.forall(_.size == names.size),
      "every level must generalize every quasi-identifier")
    require(k >= 1, "k must be positive")
    def classes(l: Int) = df
      .groupBy(levels(l).zip(names).map { case (c, n) => c.as(n) }: _*)
      .agg(count(lit(1)).as("group_size"))
    val minAt = levels.indices.map { l =>
      val r = classes(l).agg(min(col("group_size"))).collect()(0)
      if (r.isNullAt(0)) Long.MaxValue else r.getLong(0) // empty input: trivially safe
    }
    val chosen = minAt.indexWhere(_ >= k) match {
      case -1 => levels.size - 1
      case i => i
    }
    classes(chosen)
      .withColumn("level", lit(chosen))
      .withColumn("meets_k", col("group_size") >= k)
  }

  /** ZERO-extra-pass quality metrics via Spark's Observation API: the
    * validator `df.agg(...)` probes above each cost one dedicated
    * aggregation over the data — correct for a gate that must run BEFORE the
    * write, but a pipeline that is writing the data anyway shouldn't
    * scan 100 TB twice for row/null counts. `observed` piggybacks the
    * probes on whatever action the caller was about to run: metrics
    * accumulate inside the SAME tasks that execute the write (an
    * `observe` node in the plan, no second scan, no extra shuffle)
    * and are read from the returned Observation after the action
    * completes. Returns (instrumented df, observation); call
    * `observation.get` once the caller's action has run.
    *
    * The metric set mirrors the gate probes: row count, per-column
    * null counts, and min/max of `minMaxCol` if given. Aggregate-only
    * by the API's contract (observe rejects non-aggregate
    * expressions); distinct counts are NOT available this way — HLL
    * (`approx_count_distinct`) is the observable substitute and the
    * exact form stays with the dedicated validators. */
  def observed(df: DataFrame, name: String, nullCols: Seq[String],
               minMaxCol: Option[String] = None)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    val metrics: Seq[Column] =
      Seq(count(lit(1)).as("row_count")) ++
        nullCols.map(c => count(when(col(c).isNull, 1)).as(s"null_$c")) ++
        minMaxCol.toSeq.flatMap(c => Seq(
          min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
          approx_count_distinct(col(c)).as(s"approx_distinct_$c")))
    (df.observe(obs, metrics.head, metrics.tail: _*), obs)
  }

  /** Referential-integrity + amount-reconciliation audit between a
    * parent and a child table — the FK checks a warehouse runs after
    * every load (dbt's relationship tests, Kimball's "orphan fact"
    * audit): (a) orphan children (FK with no parent — breaks every
    * parent-side join silently), (b) childless parents (headers with
    * no lines — usually a partial load), (c) header amounts not equal
    * to the sum of line amounts. Money compares in EXACT integer
    * cents (one DECIMAL(18,2) quantization per value, integer sums —
    * a double Σ would make the violation COUNT depend on accumulation
    * order), tolerance ±1 cent stated.
    *
    * Output: one row per check — (check, n_checked, n_violations,
    * violation_permille). Shape: two anti-joins + one grouped
    * equi-join, all keyed on the FK; three 1-row aggregates unioned.
    * Nothing collected. */
  def referentialAudit(parent: DataFrame, child: DataFrame,
                       parentKey: String, childKey: String,
                       parentAmount: String, childAmount: String): DataFrame = {
    def cents(c: Column) =
      (round(c.cast("decimal(28,10)"), 2).cast("decimal(18,2)") * 100)
        .cast("long")
    val p = parent.select(col(parentKey).as("__k"),
      cents(col(parentAmount)).as("__pc"))
    val c = child.select(col(childKey).as("__k"),
      cents(col(childAmount)).as("__cc"))
    def report(name: String, checked: DataFrame, bad: DataFrame) =
      checked.agg(count(lit(1)).as("n_checked"))
        .crossJoin(bad.agg(count(lit(1)).as("n_violations")))
        .select(lit(name).as("check"), col("n_checked"), col("n_violations"),
          expr("CASE WHEN n_checked = 0 THEN 0 " +
            "ELSE (n_violations * 1000) div n_checked END")
            .as("violation_permille"))
    val orphans = c.join(p.select("__k").distinct(), Seq("__k"), "left_anti")
    val childless = p.join(c.select("__k").distinct(), Seq("__k"), "left_anti")
    val recon = p.join(
        c.groupBy(col("__k")).agg(sum(col("__cc")).as("__sum")),
        Seq("__k"))
      .filter(abs(col("__pc") - col("__sum")) > 1)
    report("orphan_children", c, orphans)
      .unionByName(report("childless_parents", p, childless))
      .unionByName(report("amount_reconciliation",
        p.join(c.select("__k").distinct(), Seq("__k")), recon))
  }
}
