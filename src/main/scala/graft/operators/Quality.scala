package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative data-quality validation (the Deequ pattern, Spark-first):
  * a suite of constraints compiles into ONE aggregation over the table —
  * one scan, one partial+final hash aggregate, however many checks ride
  * on it. At 100 TB the difference between "N constraint jobs" and "one
  * pass" is the whole game: a 20-check suite costs the same scan as a
  * single `count(*)`.
  *
  * The report materializes as a DataFrame (constraint, target, observed,
  * threshold, passed) by exploding a literal array of structs over the
  * single aggregated row — no driver collect, so the report composes
  * with joins/sinks like any other frame.
  *
  * Reference behavior: the weather pipeline's implicit quality contract
  * (reference `dags/etl.py` status-code gate + NOT NULL/PK DDL in
  * `sql/create_tables.sql`) generalized to declared, measurable checks.
  */
object Quality {

  /** One declarative check. `target` names what's measured (shown in the
    * report); `metric` is the aggregate observation; `threshold` and
    * `pass` decide the verdict from the observed value. */
  sealed trait Constraint {
    def kind: String
    def target: String
    def threshold: Double
    /** aggregate producing the observed value (one column per check) */
    private[operators] def observed: Column
    /** verdict from the observed value */
    private[operators] def pass(observed: Column): Column
  }

  /** Fraction of non-null values ≥ minRatio (1.0 = NOT NULL). The ratio
    * is an IEEE division of two exact counts — deterministic in any
    * engine. */
  final case class Complete(col: String, minRatio: Double = 1.0) extends Constraint {
    val kind = "complete"; val target = col; val threshold = minRatio
    private[operators] def observed: Column =
      try_divide(count(column(col)).cast("double"), count(lit(1)))
    private[operators] def pass(o: Column): Column = o >= threshold
  }

  /** Distinct count equals row count over the key columns (primary-key
    * shape). Exact — Spark plans multiple distinct aggregates through one
    * Expand, still a single scan. */
  final case class Unique(cols: Seq[String]) extends Constraint {
    val kind = "unique"; val target = cols.mkString(","); val threshold = 1.0
    private[operators] def observed: Column =
      try_divide(countDistinct(struct(cols.map(column): _*)).cast("double"),
        count(lit(1)))
    private[operators] def pass(o: Column): Column = o >= threshold
  }

  /** min(col) ≥ lo AND max(col) ≤ hi; observed = fraction of in-range
    * non-null values (more informative than a bare min/max when it
    * fails). */
  final case class InRange(col: String, lo: Double, hi: Double) extends Constraint {
    val kind = "in_range"; val target = col; val threshold = 1.0
    private[operators] def observed: Column = {
      val c = column(col)
      try_divide(count(when(c >= lo && c <= hi, 1)).cast("double"), count(c))
    }
    private[operators] def pass(o: Column): Column = o >= threshold
  }

  /** Fraction of non-null values matching an RE2-safe regex ≥ minRatio. */
  final case class Matches(col: String, regex: String, minRatio: Double = 1.0)
      extends Constraint {
    val kind = "matches"; val target = col; val threshold = minRatio
    private[operators] def observed: Column = {
      val c = column(col)
      try_divide(count(when(c.rlike(regex), 1)).cast("double"), count(c))
    }
    private[operators] def pass(o: Column): Column = o >= threshold
  }

  /** Row count within [lo, hi] (hi = Long.MaxValue for "at least"). */
  final case class RowCountBetween(lo: Long, hi: Long = Long.MaxValue)
      extends Constraint {
    val kind = "row_count"; val target = "*"; val threshold = lo.toDouble
    private[operators] def observed: Column = count(lit(1)).cast("double")
    private[operators] def pass(o: Column): Column = o >= lo && o <= hi
  }

  /** Values drawn from a closed set; observed = fraction of non-null
    * values in the set. */
  final case class IsIn(col: String, allowed: Seq[String]) extends Constraint {
    val kind = "is_in"; val target = col; val threshold = 1.0
    private[operators] def observed: Column = {
      val c = column(col)
      try_divide(count(when(c.isin(allowed: _*), 1)).cast("double"), count(c))
    }
    private[operators] def pass(o: Column): Column = o >= threshold
  }

  private def column(name: String): Column = col(name)

  /** Evaluate a suite in ONE aggregation pass; returns the report frame
    * (kind, target, observed, threshold, passed) ordered by (kind,
    * target) so it gates deterministically.
    *
    * A fraction constraint whose denominator is 0 (empty table, or a
    * column with no non-null values) has `observed = NULL` and passes
    * VACUOUSLY (`passed = true`) — there are no violating values. Gate
    * emptiness explicitly with [[RowCountBetween]] (and nullness with
    * [[Complete]], whose denominator is the row count); `passed` is
    * never NULL, so `filter(!col("passed"))` always sees failures. */
  def check(df: DataFrame, constraints: Seq[Constraint]): DataFrame = {
    require(constraints.nonEmpty, "empty constraint suite")
    val observedCols = constraints.zipWithIndex.map { case (c, i) =>
      c.observed.as(s"__o$i")
    }
    val agg = df.agg(observedCols.head, observedCols.tail: _*)
    val rows = constraints.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c.kind).as("kind"),
        lit(c.target).as("target"),
        col(s"__o$i").cast("double").as("observed"),
        lit(c.threshold).cast("double").as("threshold"),
        coalesce(c.pass(col(s"__o$i")), lit(true)).as("passed"))
    }
    agg.select(explode(array(rows: _*)).as("r"))
      .select("r.kind", "r.target", "r.observed", "r.threshold", "r.passed")
      .orderBy("kind", "target")
  }

  /** Referential-integrity check (child.fk ⊆ parent.pk) — the one
    * constraint that inherently needs a second table, so it's its own
    * join (broadcast when the parent's keys fit, shuffle-hash otherwise;
    * only the KEY columns move). Returns a one-row report frame in the
    * same shape as [[check]]. */
  def checkReferential(child: DataFrame, childKey: String,
                       parent: DataFrame, parentKey: String): DataFrame = {
    val orphans = child.select(col(childKey))
      .filter(col(childKey).isNotNull)
      .join(parent.select(col(parentKey)), col(childKey) === col(parentKey),
        "left_anti")
    val total = child.filter(col(childKey).isNotNull)
      .agg(count(lit(1)).as("__n"))
    orphans.agg(count(lit(1)).as("__orphans")).crossJoin(total)
      .select(
        lit("ref_integrity").as("kind"),
        lit(childKey).as("target"),
        (lit(1.0) - col("__orphans").cast("double") /
          greatest(col("__n"), lit(1L))).as("observed"),
        lit(1.0).as("threshold"),
        (col("__orphans") === 0).as("passed"))
  }

  /** k-anonymity audit — the privacy gate a corpus RELEASE runs before
    * publishing rows containing quasi-identifiers (the Sweeney model:
    * a row is safe only if at least k rows share its full
    * quasi-identifier combination; smaller equivalence classes
    * re-identify people by joining public records). Appends
    * `class_size` and `suppress` (true when class_size < k — the
    * standard remedy is suppressing or generalizing those rows).
    *
    * One map-side-combined aggregate keyed by the quasi-identifier
    * tuple (output O(#classes)) joined back to the rows — broadcast at
    * sane class counts, shuffle-hash otherwise; never a window over
    * row-sized partitions. NULL quasi-values form their own class
    * (null-safe grouping), matching GROUP BY semantics in any engine. */
  def kAnonymity(df: DataFrame, quasi: Seq[String], k: Long): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k-anonymity below 2 is vacuous, got $k")
    val sizes = df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .select(quasi.map(c => col(c).as(s"__q_$c")) :+ col("class_size"): _*)
    // null-safe join back: GROUP BY put null quasi-values in one class,
    // so the join must pair them too (plain equality would strand them
    // with class_size NULL)
    val cond = quasi.map(c => col(c) <=> col(s"__q_$c")).reduce(_ && _)
    df.join(sizes, cond, "left")
      .drop(quasi.map(c => s"__q_$c"): _*)
      .withColumn("suppress", col("class_size") < k)
  }

  /** l-diversity audit — k-anonymity's companion gate (Machanavajjhala
    * et al.): a quasi-identifier class can be large (k-safe) yet leak the
    * SENSITIVE attribute outright when every row in it shares one value
    * (the homogeneity attack — "all 50 patients in this class have
    * cancer"). A class is l-diverse when its rows carry at least `l`
    * DISTINCT sensitive values; rows in smaller-diversity classes get
    * `suppress = true`. NULL sensitive values do not count toward
    * diversity (SQL distinct-aggregate semantics on both engines); NULL
    * quasi-values form their own class exactly as in [[kAnonymity]].
    *
    * Same shape and scale posture as [[kAnonymity]]: one map-side-
    * combined aggregate keyed by the quasi tuple (the distinct count
    * expands to (class, sensitive) partials first — still O(#classes ·
    * #values) intermediate, never row-sized), null-safe broadcast-able
    * join back. Appends `class_size`, `l_distinct`, `suppress`. */
  def lDiversity(df: DataFrame, quasi: Seq[String], sensitive: String,
                 l: Long): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 2, s"l-diversity below 2 is vacuous, got $l")
    val sizes = df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitive)).as("l_distinct"))
      .select(quasi.map(c => col(c).as(s"__q_$c")) :+
        col("class_size") :+ col("l_distinct"): _*)
    val cond = quasi.map(c => col(c) <=> col(s"__q_$c")).reduce(_ && _)
    df.join(sizes, cond, "left")
      .drop(quasi.map(c => s"__q_$c"): _*)
      .withColumn("suppress", col("l_distinct") < l)
  }

  /** t-closeness audit — the third privacy gate (Li/Li/Venkatasubramanian
    * '07): a class can be k-large and l-diverse yet still leak when its
    * SENSITIVE-value distribution differs sharply from the corpus-wide
    * one ("this zip code's salaries are all in the top decile"). For an
    * ORDERED sensitive attribute the distance is the Earth Mover's
    * Distance with unit ground distance — in cumulative form, with k
    * distinct global values v₁<…<v_k:
    *
    *   t = (1/(k−1)) Σ_j |CumP_class(v_j) − CumP_global(v_j)|
    *
    * Exact integers end-to-end: the inner |·| clears to
    * |cumc_j·N − cumg_j·n_class| (DECIMAL(38,0)), and t publishes as the
    * truncating `t_ppm` = (10⁶·Σ) DIV ((k−1)·n_class·N) — positive, so
    * trunc ≡ floor cross-engine. Quantize an unbounded-cardinality
    * attribute first (deciles/buckets): cost and meaning both want a
    * bounded value grid.
    *
    * Scale posture: rows collapse to a global value-counts frame and a
    * (class, value) counts frame in one pass each; the evaluation grid
    * is classes × values (BOTH aggregate-sized — the one documented
    * cross join, same posture as the q50 pair generator), cumulated by
    * a per-class window over the value order. NULL sensitive values are
    * EXCLUDED from the distribution (and counted per class); NULL quasi
    * values form their own class.
    *
    * Output per class: quasi cols, `n` (non-null sensitive rows),
    * `n_null_sensitive`, `emd_num` (= Σ|·| audit, LONG), `t_ppm` LONG,
    * `breach` BOOLEAN (t_ppm > tMaxPpm) — total order by quasi cols.
    */
  def tCloseness(df: DataFrame, quasi: Seq[String], sensitive: Column,
                 tMaxPpm: Long): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(tMaxPpm >= 0L, s"tMaxPpm must be >= 0, got $tMaxPpm")
    val base = df.select(quasi.map(col) :+
      sensitive.cast("long").as("__v"): _*)
    val perClass = base.groupBy(quasi.map(col): _*)
      .agg(coalesce(sum(when(col("__v").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n"),
        coalesce(sum(when(col("__v").isNull, 1L).otherwise(0L)),
          lit(0L)).as("n_null_sensitive"))
    val gCounts = base.filter(col("__v").isNotNull)
      .groupBy(col("__v")).agg(count(lit(1)).as("__cg"))
    val wVal = BoundedWindow.ordered(col("__v"), col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = BoundedWindow.all(col("__v"))
    // global cum frame: O(#values) rows — the tiny single-partition
    // window is over THAT frame, never rows
    val gCum = gCounts
      .withColumn("__cumg", sum(col("__cg")).over(wVal))
      .withColumn("__nn", sum(col("__cg")).over(wAll))
      .withColumn("__k", count(lit(1)).over(wAll))
      .select(col("__v"), col("__cumg"), col("__nn"), col("__k"))
    val cCounts = base.filter(col("__v").isNotNull)
      .groupBy(quasi.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__cc"))
      .select(quasi.map(c => col(c).as(s"__q_$c")) :+
        col("__v").as("__cv") :+ col("__cc"): _*)
    // classes × values grid — both frames aggregate-sized by contract
    val grid = perClass.filter(col("n") > 0L).crossJoin(gCum)
      .join(cCounts,
        quasi.map(c => col(c) <=> col(s"__q_$c")).reduce(_ && _) &&
          col("__v") === col("__cv"), "left_outer")
      .drop(quasi.map(c => s"__q_$c"): _*)
    val wClass = Window.partitionBy(quasi.map(col): _*)
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val summed = grid
      .withColumn("__cumc",
        coalesce(sum(col("__cc")).over(wClass), lit(0L)))
      .withColumn("__term",
        abs(col("__cumc").cast("decimal(38,0)") * col("__nn") -
          col("__cumg").cast("decimal(38,0)") * col("n")))
      .groupBy((quasi.map(col) :+ col("n") :+ col("n_null_sensitive") :+
        col("__nn") :+ col("__k")).map(c => c): _*)
      .agg(sum(col("__term")).as("__emd"))
    val zeroClasses = perClass.filter(col("n") === 0L)
      .withColumn("emd_num", lit(null).cast("long"))
      .withColumn("t_ppm", lit(null).cast("long"))
      .withColumn("breach", lit(false))
      .select(quasi.map(col) :+ col("n") :+ col("n_null_sensitive") :+
        col("emd_num") :+ col("t_ppm") :+ col("breach"): _*)
    summed
      .withColumn("t_ppm",
        when(col("__k") > 1L,
          expr("CAST((__emd * 1000000) DIV " +
            "((__k - 1) * CAST(n AS DECIMAL(38,0)) * __nn) AS BIGINT)"))
          .otherwise(lit(0L)))
      .withColumn("breach", col("t_ppm") > tMaxPpm)
      .select(quasi.map(col) :+ col("n") :+ col("n_null_sensitive") :+
        col("__emd").cast("long").as("emd_num") :+ col("t_ppm") :+
        col("breach"): _*)
      .unionByName(zeroClasses)
      .orderBy(quasi.map(c => col(c).asc_nulls_first): _*)
  }

  /** Train/test coverage audit — before trusting any per-entity model
    * or backtest, measure how much of the evaluation data is COLD:
    * test rows whose key never appeared in train score on prior
    * knowledge the model doesn't have ([[graft.operators.Analytics
    * .markovBacktest]]'s n_unseen, generalized to a standalone gate).
    * Reports both row- and key-level unseen shares — they diverge
    * exactly when cold keys are low-traffic, which is the common and
    * the dangerous case (key-level looks bad, row-level looks fine,
    * and the model silently fails on the long tail).
    *
    * Scale posture: train collapses to distinct keys once; test keys
    * aggregate with row counts; ONE left-anti-shaped join (null-safe
    * left join + null test) on the key frames. Truncating positive
    * ppms. NULL keys count as unseen (a key the model cannot look up).
    *
    * Output (one row): `n_train_keys`, `n_test_rows`, `n_test_keys`,
    * `n_unseen_rows`, `n_unseen_keys`, `unseen_rows_ppm`,
    * `unseen_keys_ppm` LONG.
    */
  def coverageAudit(train: DataFrame, test: DataFrame, trainKey: Column,
                    testKey: Column): DataFrame = {
    val tk = train.select(trainKey.cast("string").as("__k"))
      .filter(col("__k").isNotNull).distinct()
    val nTrain = tk.agg(count(lit(1)).as("n_train_keys"))
    val te = test.select(testKey.cast("string").as("__k"))
      .groupBy(col("__k")).agg(count(lit(1)).as("__n"))
    val joined = te.join(tk.withColumn("__seen", lit(1)),
      Seq("__k"), "left_outer")
    joined.agg(
        coalesce(sum(col("__n")), lit(0L)).as("n_test_rows"),
        count(lit(1)).as("n_test_keys"),
        coalesce(sum(when(col("__seen").isNull, col("__n"))
          .otherwise(0L)), lit(0L)).as("n_unseen_rows"),
        coalesce(sum(when(col("__seen").isNull, 1L).otherwise(0L)),
          lit(0L)).as("n_unseen_keys"))
      .crossJoin(nTrain)
      .withColumn("unseen_rows_ppm",
        when(col("n_test_rows") > 0L,
          expr("(n_unseen_rows * 1000000L) DIV n_test_rows")))
      .withColumn("unseen_keys_ppm",
        when(col("n_test_keys") > 0L,
          expr("(n_unseen_keys * 1000000L) DIV n_test_keys")))
      .select(col("n_train_keys"), col("n_test_rows"),
        col("n_test_keys"), col("n_unseen_rows"), col("n_unseen_keys"),
        col("unseen_rows_ppm"), col("unseen_keys_ppm"))
  }

  /** Per-row curation gate report — the "why was this document dropped"
    * ledger of a filtering pipeline (Dolma/FineWeb publish exactly this
    * per-filter attribution). Each gate is (name, pass-predicate); a
    * NULL predicate FAILS its gate (strict: an unevaluable quality
    * signal is not a pass). Appends `fail_mask` (bit i set = gate i
    * failed — the full diagnosis, not just the first hit), `first_fail`
    * (name of the lowest-index failed gate — the funnel attribution the
    * ordered pipeline would report), and `kept`.
    *
    * Strictly narrow: every gate is a codegen'd boolean over the row;
    * no shuffle, no state. At most 63 gates (long bitmask). */
  def gateReport(df: DataFrame, gates: Seq[(String, Column)]): DataFrame = {
    require(gates.nonEmpty && gates.size <= 63, "1..63 gates")
    val failed = gates.map { case (_, p) => !coalesce(p, lit(false)) }
    val mask = failed.zipWithIndex
      .map { case (f, i) => when(f, lit(1L << i)).otherwise(0L) }
      .reduce(_ + _)
    val firstFail = coalesce(
      (gates.zip(failed).map { case ((n, _), f) =>
        when(f, lit(n))
      } :+ lit(null).cast("string")): _*)
    df.withColumn("fail_mask", mask)
      .withColumn("first_fail", firstFail)
      .withColumn("kept", col("fail_mask") === 0L)
  }

  /** Funnel summary over a [[gateReport]]: per gate, how many rows fail
    * it at all (`n_failed` — independent diagnosis) and for how many it
    * is the FIRST failure (`n_first_fail` — the marginal count an
    * ordered pipeline attributes to this gate; per-gate marginals sum to
    * the total dropped). A trailing `_total_` row carries the dropped
    * total in both columns ("fails the any-gate gate" ≡ "has a first
    * failure"). ONE aggregate row computes every count from the mask
    * column — no per-gate passes — then unpivots via an in-row explode.
    * Output: (`gate`, `gate_idx`, `n_failed`, `n_first_fail`). */
  def gateSummary(report: DataFrame, gates: Seq[(String, Column)]): DataFrame = {
    // coalesce: an EMPTY report (sum → NULL) must summarize as zeros
    val aggs =
      coalesce(sum(when(!col("kept"), 1L).otherwise(0L)), lit(0L))
        .as("__dropped") +:
        gates.zipWithIndex.flatMap { case ((n, _), i) => Seq(
          coalesce(sum(when(expr(s"(fail_mask DIV ${1L << i}) % 2") === 1L, 1L)
            .otherwise(0L)), lit(0L)).as(s"__f_$i"),
          coalesce(sum(when(col("first_fail") === n, 1L).otherwise(0L)),
            lit(0L)).as(s"__ff_$i"))
        }
    val one = report.agg(aggs.head, aggs.tail: _*)
    val rows = gates.zipWithIndex.map { case ((n, _), i) =>
      struct(lit(n).as("gate"), lit(i).as("gate_idx"),
        col(s"__f_$i").as("n_failed"), col(s"__ff_$i").as("n_first_fail"))
    } :+ struct(lit("_total_").as("gate"), lit(gates.size).as("gate_idx"),
      col("__dropped").as("n_failed"), col("__dropped").as("n_first_fail"))
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.gate"), col("r.gate_idx"),
        col("r.n_failed"), col("r.n_first_fail"))
  }

  /** Gate co-failure matrix over a [[gateReport]] — which filters are
    * redundant (fire together) and which carry independent signal: the
    * analysis behind pruning an expensive gate whose kills are already
    * covered by a cheap one. ONE aggregate computes every pairwise
    * count from the mask column (k(k+1)/2 sums — diagonal = the gate's
    * own failure count), then unpivots in-row.
    * Output: (`gate_a`, `gate_b`, `idx_a`, `idx_b`, `n_both`), a ≤ b. */
  def gateCofailure(report: DataFrame, gates: Seq[(String, Column)]): DataFrame = {
    def bit(i: Int): Column =
      expr(s"(fail_mask DIV ${1L << i}) % 2") === 1L
    val pairs = for {
      i <- gates.indices; j <- gates.indices if i <= j
    } yield (i, j)
    val aggs = pairs.map { case (i, j) =>
      coalesce(sum(when(bit(i) && bit(j), 1L).otherwise(0L)), lit(0L))
        .as(s"__c_${i}_$j")
    }
    val one = report.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (i, j) =>
      struct(lit(gates(i)._1).as("gate_a"), lit(gates(j)._1).as("gate_b"),
        lit(i).as("idx_a"), lit(j).as("idx_b"),
        col(s"__c_${i}_$j").as("n_both"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.gate_a"), col("r.gate_b"), col("r.idx_a"),
        col("r.idx_b"), col("r.n_both"))
  }

  /** Benford first-digit audit over a positive integer measure — the
    * forensic/data-quality screen for fabricated or truncated numeric
    * columns (real multi-decade measurements follow log10(1+1/d);
    * uniform or hand-entered data does not).
    *
    * Exactness: the leading digit comes from the BIGINT's decimal
    * string length (`x DIV 10^(len−1)` — integer-string rendering is
    * engine-stable, no float log); 10^(len−1) ≤ 10¹⁸ is exactly
    * representable so the double `power` is safe; observed shares are
    * truncating ppm; the Benford expectations are rounded-literal ppm
    * CONSTANTS (they sum to exactly 1e6), not engine log10 calls.
    *
    * Scale posture: one narrow digit projection into a 9-row aggregate
    * (map-side combined), left-joined from the 9-row expectation spine
    * — digits with zero support still appear. The preserved side of a
    * left outer join can never be the build side, so the ≤9-row digit
    * aggregate is the one broadcast. The total is a window sum over
    * the 9 joined rows, not a second aggregate of the input, so the
    * input is scanned and aggregated once (every positive value's first
    * digit is 1–9, so the spine carries every counted row). Non-positive
    * and null values are excluded (Benford is defined on positive
    * magnitudes).
    *
    * Output: `digit` INT, `n` LONG, `obs_ppm` LONG (0 when no
    * support), `benford_ppm` LONG, `dev_ppm` LONG = |obs − benford|,
    * total order by digit.
    */
  def benford(df: DataFrame, value: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val benfordPpm = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
      9 -> 45757L)
    val spine = benfordPpm.toDF("digit", "benford_ppm")
    val digits = df
      .select(value.cast("long").as("__v"))
      .filter(col("__v").isNotNull && col("__v") > 0L)
      .withColumn("digit",
        expr("CAST(__v DIV CAST(power(10, length(CAST(__v AS STRING)) - 1) AS BIGINT) AS INT)"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    spine
      .join(digits, Seq("digit"), "left_outer")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("benford_ppm"))
      .withColumn("__t", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        when(col("__t") > 0L, expr("(1000000L * n) DIV __t"))
          .otherwise(lit(0L)).as("obs_ppm"),
        col("benford_ppm"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("benford_ppm")))
      .orderBy("digit")
  }

  /** Freshness audit: per key, how far its newest event lags the
    * corpus' newest event — the "which feed went quiet" monitor. The
    * reference point is the OBSERVED global max (never wall-clock —
    * wall-clock in a distributed audit is nondeterministic and
    * untestable; lag-behind-the-freshest-peer is the replayable
    * formulation).
    *
    * One key-keyed max aggregate + a broadcast one-row global max — no
    * windows, no second scan (the global max re-aggregates the key
    * maxes). Output: `key`, `last_ts_us` LONG, `lag_us` LONG (≥ 0),
    * `stale` INT (lag > threshold), total order by key.
    */
  def freshness(df: DataFrame, key: Column, tsUs: Column,
                staleAfterUs: Long): DataFrame = {
    val perKey = df
      .select(key.cast("string").as("key"), tsUs.cast("long").as("__t"))
      .filter(col("key").isNotNull && col("__t").isNotNull)
      .groupBy(col("key")).agg(max(col("__t")).as("last_ts_us"))
    val global = perKey.agg(max(col("last_ts_us")).as("__gmax"))
    perKey.crossJoin(broadcast(global))
      .withColumn("lag_us", col("__gmax") - col("last_ts_us"))
      .withColumn("stale", (col("lag_us") > staleAfterUs).cast("int"))
      .select(col("key"), col("last_ts_us"), col("lag_us"), col("stale"))
      .orderBy("key")
  }

  /** Functional-dependency audit: does lhs → rhs hold, and how badly is
    * it violated — the schema-inference/constraint-mining primitive
    * (candidate-key discovery's sibling: [[Profile.uniqueness]] asks
    * "is lhs a key", this asks "does lhs determine THIS column").
    *
    * Null semantics match uniqueness: a null is a VALUE on both sides
    * (two nulls agree), so lhs groups with null members still audit.
    *
    * Scale posture: one (lhs, rhs) aggregate with map-side combine,
    * one lhs-sized aggregate on top, one final row — nothing else
    * shuffles. `repair_rows` is the minimum number of rows whose rhs
    * must change to make the FD hold (Σ group_n − max_count — the
    * standard g₃ error measure, Kivinen & Mannila '95).
    *
    * Output (one row): `n_rows`, `n_groups`, `n_violating_groups`,
    * `violating_rows`, `repair_rows` — all LONG and exact.
    */
  def functionalDependency(df: DataFrame, lhs: Seq[Column],
                           rhs: Column): DataFrame = {
    require(lhs.nonEmpty, "lhs must be non-empty")
    val keyed = df.select(
      struct(lhs: _*).as("__l"), rhs.as("__r"))
    val pairCounts = keyed.groupBy(col("__l"), col("__r"))
      .agg(count(lit(1)).as("__n"))
    val perGroup = pairCounts.groupBy(col("__l"))
      .agg(sum(col("__n")).as("__gn"), count(lit(1)).as("__nrhs"),
        max(col("__n")).as("__maxc"))
    perGroup.agg(
      coalesce(sum(col("__gn")), lit(0L)).as("n_rows"),
      count(lit(1)).as("n_groups"),
      coalesce(sum(when(col("__nrhs") > 1L, 1L).otherwise(0L)), lit(0L))
        .as("n_violating_groups"),
      coalesce(sum(when(col("__nrhs") > 1L, col("__gn")).otherwise(0L)),
        lit(0L)).as("violating_rows"),
      coalesce(sum(col("__gn") - col("__maxc")), lit(0L)).as("repair_rows"))
  }

  /** Compression-ratio quality signal (the Gopher/C4-family filter:
    * Rae et al. '21 §A1 list compressibility among the document
    * screens): deflate(text).bytes / utf8(text).bytes in ppm. Very
    * LOW ratios flag machine-generated repetition (template spam,
    * keyword stuffing — deflate finds the structure a human reader
    * would); ratios near 10⁶ flag high-entropy non-text (base64 blobs,
    * minified code, binary paste). Appends `utf8_len` LONG,
    * `deflate_len` LONG, `ratio_ppm` LONG (NULL for NULL/empty text —
    * an empty document has no compressibility, not a perfect one).
    *
    * Runs as the [[graft.plans.DeflateLen]] native expression — a
    * static-call kernel inside whole-stage codegen, one thread-local
    * Deflater reset per row (never re-allocated), no shuffle, no UDF.
    * Layout-proof: a pure per-row function. Cross-JVM note: deflate
    * output for a fixed (input, level) is deterministic for a fixed
    * zlib build; the gate therefore audits INVARIANTS (bounds,
    * separation) rather than cross-engine bytes — DuckDB has no
    * deflate to replay. */
  def compressionRatio(docs: DataFrame, textCol: Column,
                       level: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    docs
      .withColumn("utf8_len", octet_length(textCol).cast("long"))
      .withColumn("deflate_len",
        graft.plans.SignalExprs.deflateLen(spark, textCol, level)
          .cast("long"))
      .withColumn("ratio_ppm",
        when(col("utf8_len") > 0L,
          expr("(1000000L * deflate_len) DIV utf8_len")))
  }
}
