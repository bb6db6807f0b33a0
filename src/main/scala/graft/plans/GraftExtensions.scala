package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

/** Cluster-grade registration of every graft SQL function via
  * SparkSessionExtensions (SURVEY.md §7.3: keep custom work behind
  * extensions so the core engine stays vanilla):
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * // or, on a session builder outside graft.GraftSession (which sets the conf)
  * builder.withExtensions(new GraftExtensions) ...
  * }}}
  *
  * The same functions are also registerable per-session through
  * HashExprs.ensureRegistered / TextExprs.ensureRegistered (used by
  * graft.sources.Catalog) — this class is the deployment-config path.
  *
  * Besides the functions it injects these plan rules (PlanStable.scala
  * for the last two):
  *  - `RewriteAsOfJoin` (`injectOptimizerRule`) + `AsOfJoinStrategy`
  *    (`injectPlannerStrategy`): the native as-of join;
  *  - `GraftMergeRule` (`injectResolutionRule` and
  *    `injectPostHocResolutionRule`): SQL MERGE INTO over graft sinks;
  *  - [[DatePartitionBounds]] (`injectOptimizerRule`): `p_date` partition
  *    bounds derived from a timestamp window over a relation that names
  *    its timestamp column (`Store.readFact`), so the window prunes days;
  *  - [[ParamLiterals]] (`injectColumnar`, `preColumnarTransitions`, which
  *    runs right before `CollapseCodegenStages` on the adaptive and the
  *    non-adaptive path): comparison literals in `FilterExec` conditions
  *    stay out of generated source text, so a query that differs only in
  *    such a value reuses its compiled classes.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))

    inject("graft_simhash62", "62-bit SimHash of a text column") {
      e => SimHash62(e.head)
    }
    inject("graft_minhash_sig", "MinHash signature of a shingle array") {
      e => MinHashSig(e.head, e(1).eval().asInstanceOf[Number].intValue())
    }
    inject("graft_shingles", "distinct word n-gram shingles") {
      e => ShinglesN(e.head, e(1).eval().asInstanceOf[Number].intValue())
    }
    inject("graft_hashed_shingles",
      "distinct word n-gram shingle hashes (no string materialization)") {
      e => HashedShinglesN(e.head, e(1).eval().asInstanceOf[Number].intValue())
    }
    inject("graft_minhash_sig_hashed",
      "MinHash signature over pre-hashed shingles") {
      e => MinHashSigHashed(e.head, e(1).eval().asInstanceOf[Number].intValue())
    }
    inject("graft_band_hash", "LSH band hashes of a MinHash signature") {
      e => BandHash(e.head,
        e(1).eval().asInstanceOf[Number].intValue(),
        e(2).eval().asInstanceOf[Number].intValue())
    }
    inject("graft_cosine", "cosine similarity of two float arrays") {
      e => CosineSim(e.head, e(1))
    }
    inject("graft_srp_bucket", "sign-random-projection LSH bucket") {
      e => SrpBucket(e.head,
        e(1).eval().asInstanceOf[Number].intValue(),
        e(2).eval().asInstanceOf[Number].intValue(),
        e(3).eval().asInstanceOf[Number].longValue())
    }
    inject("graft_token_stats", "(n_words, sum_word_len) of a text column") {
      e => TokenStats(e.head)
    }
    inject("graft_stopword_stats", "(stopword hits, n_words) of a text column") {
      e => StopwordStats(e.head, graft.functions.Text.englishStopwords)
    }
    inject("graft_lang_id", "heuristic language id of a text column") {
      e => LangIdExpr(e.head, graft.functions.Text.langProfiles.toSeq)
    }
    inject("graft_fingerprint", "64-bit rolling-hash fingerprint of normalized text") {
      e => Fingerprint64(e.head)
    }
    inject("graft_repetition", "duplicate word-n-gram fraction of a text column") {
      e => RepetitionRatio(e.head, e(1).eval().asInstanceOf[Number].intValue())
    }
    inject("graft_char_entropy", "character-distribution Shannon entropy of a text column") {
      e => CharEntropy(e.head)
    }
    inject("graft_alnum_fold", "lowercase alphanumeric folding of a text column") {
      e => AlnumFold(e.head)
    }
    inject("graft_nfc", "Unicode NFC canonical composition of a text column") {
      e => NfcNormalize(e.head)
    }
    inject("graft_strip_accents", "accent folding: NFD + drop combining marks") {
      e => StripAccents(e.head)
    }
    inject("graft_asof", "as-of join marker: most recent right row at-or-before left ts") {
      e => AsOfMarker(e.head, e(1))
    }
    inject("graft_deflate_len", "deflate byte length of a text column (compression-ratio quality signal)") {
      e => DeflateLen(e.head, e(1).eval().asInstanceOf[Number].intValue())
    }
    inject("graft_luhn", "Luhn mod-10 checksum validity of a digit string") {
      e => LuhnValid(e.head)
    }
    // the native as-of join operator: rewrite rule + physical strategy
    ext.injectOptimizerRule(_ => RewriteAsOfJoin)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)

    // plan-stable refreshes: a moved timestamp window reads only its days
    // and compiles no new class
    ext.injectOptimizerRule(_ => DatePartitionBounds)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
    })

    // SQL MERGE INTO over graft MergeSink temp views (SqlMerge.scala).
    // Injected BOTH into the resolution fixed point (captures the merge
    // the moment it is fully resolved, ahead of later built-in batches
    // that only know DSv2 row-level tables) and post-hoc as a safety
    // net; the lowering is idempotent — once swapped, no MergeIntoTable
    // remains to match.
    ext.injectResolutionRule(s => GraftMergeRule(s))
    ext.injectPostHocResolutionRule(s => GraftMergeRule(s))

    // SQL time travel over registered transactional tables
    // (VersionedSink: TxnParquet manifests, Delta-protocol commits),
    // four spellings:
    //   SELECT … FROM graft_version('fact', 3)             (function)
    //   SELECT … FROM fact VERSION AS OF 3                 (native)
    //   SELECT … FROM graft_version_ts('fact', '2024-…')   (function)
    //   SELECT … FROM fact TIMESTAMP AS OF '2024-…'        (native)
    // The functions are the resolution targets for all four — relation
    // resolution rejects time-travel clauses on temp views before
    // injected analyzer rules run, so the native clauses are rewritten
    // to the functions at the PARSE seam (GraftSqlParser).
    ext.injectTableFunction((FunctionIdentifier("graft_version"),
      info("graft_version",
        "table as of a committed transactional version"),
      exprs => SqlMerge.versionPlan(exprs)))
    ext.injectTableFunction((FunctionIdentifier("graft_version_ts"),
      info("graft_version_ts",
        "table as of a wall-clock commit timestamp"),
      exprs => SqlMerge.versionTsPlan(exprs)))
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }
}
