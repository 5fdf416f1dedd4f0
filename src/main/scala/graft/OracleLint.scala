package graft

/** Mechanical lint over the entries' DuckDB oracle SQL (VERDICT r16 #2):
  * a CTE referenced two or more times in TABLE position must be
  * declared `AS MATERIALIZED`. The class this enforces bit four times
  * across three scale rehearsals (most recently mm_video_near_dup's
  * >69 GB inlining spill at sf10): DuckDB re-executes a non-
  * materialized CTE once per reference, so a decode- or join-heavy
  * CTE that is cheap at sf0.01 multiplies into an oracle blowup at
  * rehearsal scale. The rule was prose in ADVICE and got missed the
  * same round it was written — here it is code, run two ways:
  *
  *  - [[OracleLintSpec]] fails `sbt test` on any un-allowlisted
  *    violation (the authoring-time gate), and
  *  - [[Verify]] writes the synthetic RED row [[OracleLint.GuardKey]]
  *    on violation (the driver-gate backstop, the zz_ckpt_leak_guard
  *    pattern), so a lint miss turns the round's CORRECTNESS red
  *    rather than waiting for the next rehearsal to find it.
  *
  * [[Grandfathered]] carries the pre-r17 (entry, cte) pairs — all
  * empirically proven cheap by two full sf10 rehearsal passes (the
  * strongest "provably cheap" available) — so the gate is churn-free
  * for shipped oracles and materialize-at-birth for every new one.
  * The spec also fails on STALE allowlist pairs (listed but no longer
  * violating), so the set only ever shrinks.
  */
object OracleLint {
  final case class Violation(entry: String, cte: String, refs: Int)

  /** Synthetic correctness key ("zz" sorts after real entries). */
  val GuardKey = "zz_oracle_cte_lint"

  private val StopRef = Set("where", "group", "order", "having", "window",
    "limit", "union", "select", "qualify", "on", "using")

  /** Minimal SQL token walk: single-quoted strings skipped (their
    * commas/parens are content, not structure), identifiers lowered.
    * Returns (cteName -> materialized?) defs and table-position ref
    * counts per identifier. Table position = the identifier after
    * FROM, after JOIN, or after a comma inside an active FROM list at
    * the same paren depth; identifiers followed by '(' are function
    * calls (e.g. range(...)), not refs. */
  private[graft] def scan(sql: String): (Map[String, Boolean], Map[String, Int]) = {
    final case class Tok(s: String, isIdent: Boolean)
    val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'') { // string literal, '' escapes
        i += 1
        while (i < n && !(sql.charAt(i) == '\'' &&
          (i + 1 >= n || sql.charAt(i + 1) != '\''))) {
          if (sql.charAt(i) == '\'') i += 1 // the escape's first quote
          i += 1
        }
        i += 1
      } else if (c.isLetter || c == '_') {
        val j = i
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_' ||
          sql.charAt(i) == '$')) i += 1
        toks += Tok(sql.substring(j, i).toLowerCase, isIdent = true)
      } else if (c == '(' || c == ')' || c == ',') {
        toks += Tok(c.toString, isIdent = false)
        i += 1
      } else i += 1 // operators, digits, whitespace — structure-irrelevant
    }

    // pass 1: CTE defs — `ident AS [MATERIALIZED] '('`, but ONLY inside
    // an active WITH clause at that clause's paren depth (ADVICE r17
    // #3: the unrestricted triple scan minted phantom defs from body
    // aliases/named windows, and a phantom name colliding with a real
    // multiply-referenced table produced a false violation → a
    // guaranteed-RED guard row for valid SQL). A WITH clause opens at
    // the `with` token's depth and closes at that depth's `select`
    // (the main query) — nested WITHs stack.
    val defs = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    var depth = 0
    val withDepths = scala.collection.mutable.Stack.empty[Int]
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      tok.s match {
        case "(" => depth += 1
        case ")" =>
          depth -= 1
          while (withDepths.nonEmpty && withDepths.top > depth)
            withDepths.pop(): Unit
        case "with" if tok.isIdent => withDepths.push(depth)
        case "select" if tok.isIdent =>
          if (withDepths.nonEmpty && withDepths.top == depth)
            withDepths.pop(): Unit
        case _ => ()
      }
      if (tok.isIdent && withDepths.nonEmpty && withDepths.top == depth &&
        tok.s != "with" && t + 2 < toks.length && toks(t + 1).s == "as") {
        if (toks(t + 2).s == "(") defs.put(tok.s, false): Unit
        else if (toks(t + 2).s == "materialized" && t + 3 < toks.length &&
          toks(t + 3).s == "(") defs.put(tok.s, true): Unit
      }
      t += 1
    }

    // pass 2: table-position refs, paren-depth-aware
    val refs = scala.collection.mutable.HashMap.empty[String, Int]
    val inFrom = scala.collection.mutable.Stack(false)
    var expectTable = false
    t = 0
    while (t < toks.length) {
      val tok = toks(t)
      tok.s match {
        case "(" =>
          inFrom.push(false); expectTable = false
        case ")" =>
          if (inFrom.size > 1) inFrom.pop(): Unit
          expectTable = false
        case "," =>
          expectTable = inFrom.top
        case "from" =>
          inFrom.pop(); inFrom.push(true); expectTable = true
        case "join" =>
          expectTable = true
        case s if StopRef.contains(s) && tok.isIdent =>
          inFrom.pop(); inFrom.push(false); expectTable = false
        case _ if tok.isIdent && expectTable =>
          val isCall = t + 1 < toks.length && toks(t + 1).s == "("
          if (!isCall) refs.updateWith(tok.s)(c => Some(c.getOrElse(0) + 1)): Unit
          expectTable = false
        case _ =>
          expectTable = false
      }
      t += 1
    }
    (defs.toMap, refs.toMap)
  }

  /** All (cte, refCount) pairs in one SQL text violating the rule. */
  private[graft] def cteViolations(sql: String): Seq[(String, Int)] = {
    val (defs, refs) = scan(sql)
    defs.collect { case (cte, false) if refs.getOrElse(cte, 0) >= 2 =>
      (cte, refs(cte))
    }.toSeq.sortBy(_._1)
  }

  /** Violations across an oracle map, minus the allowlist. */
  def violations(oracles: Map[String, String],
      allow: Set[(String, String)] = Grandfathered): Seq[Violation] =
    oracles.toSeq.sortBy(_._1).flatMap { case (entry, sql) =>
      cteViolations(sql).collect {
        case (cte, n) if !allow((entry, cte)) => Violation(entry, cte, n)
      }
    }

  /** Allowlist pairs that no longer violate (spec fails on these so
    * the grandfather set only shrinks). */
  def staleAllowlist(oracles: Map[String, String],
      allow: Set[(String, String)] = Grandfathered): Set[(String, String)] =
    allow.filterNot { case (entry, cte) =>
      oracles.get(entry).exists(sql => cteViolations(sql).exists(_._1 == cte))
    }

  /** Verify-side guard (the ckptLeakGuard pattern): on violation,
    * write a RED 1-row dump under [[GuardKey]] whose oracle asserts
    * zero violations — a guaranteed mismatch that turns the driver's
    * round red. When clean, remove any stale dump and add nothing. */
  private[graft] def guard(spark: org.apache.spark.sql.SparkSession,
      outDir: String,
      oracles: Map[String, String] = SparkEntry.oracleSql): Map[String, String] = {
    val v = violations(oracles)
    val dump = new java.io.File(s"$outDir/$GuardKey")
    if (v.nonEmpty) {
      System.err.println(s"[verify] ORACLE LINT: ${v.size} multiply-" +
        "referenced CTE(s) without AS MATERIALIZED — materialize at birth " +
        "(sf10 adjudication) or allowlist with proof. Violations: " +
        v.map(x => s"${x.entry}.${x.cte}(${x.refs} refs)").mkString(", "))
      import spark.implicits._
      Seq((v.size.toLong, false)).toDF("cte_violations", "lint_ok")
        .coalesce(1).write.mode("overwrite").parquet(dump.toString)
      Map(GuardKey ->
        "SELECT CAST(0 AS BIGINT) AS cte_violations, TRUE AS lint_ok")
    } else {
      Tables.deleteRecursively(dump)
      Map.empty
    }
  }

  /** Pre-r17 (entry, cte) pairs: every one executed twice inside the
    * full 222-entry sf10 rehearsal (BASELINE.md r16) with per-entry
    * compare times recorded — the empirical "provably cheap" bar. New
    * oracles get no entries here; they materialize at birth. */
  val Grandfathered: Set[(String, String)] = Set(
    "dd_components" -> "cbase", "dd_components" -> "w0",
    "dd_components" -> "corpus", "dd_components" -> "blk",
    "dd_components" -> "edges", "dd_components" -> "bid",
    "dd_minhash_lsh" -> "basedocs", "dd_minhash_lsh" -> "sh",
    "f_date_spine" -> "o",
    "g_chi2_drift" -> "c0", "g_chi2_drift" -> "cells",
    "g_cms_sketch" -> "c", "g_cms_sketch" -> "e",
    "g_ks_drift" -> "x",
    "g_sample_weighted" -> "x",
    "g_skew_audit" -> "c",
    "g_table_stats" -> "a",
    "gr_bfs_hops" -> "e0", "gr_bfs_hops" -> "e",
    "gr_bfs_hops" -> "n", "gr_bfs_hops" -> "d0",
    "gr_copurchase_lift" -> "a", "gr_copurchase_lift" -> "m",
    "gr_label_prop" -> "e0", "gr_label_prop" -> "e", "gr_label_prop" -> "n",
    "gr_pagerank" -> "sc",
    "j_fuzzy_edit" -> "c",
    "j_range_bucketed" -> "e",
    "o_union_semantics" -> "hi", "o_union_semantics" -> "lo",
    "o_upsert" -> "changes",
    "pl_canonical_docs" -> "cbase", "pl_canonical_docs" -> "w0",
    "pl_canonical_docs" -> "corpus", "pl_canonical_docs" -> "blk",
    "pl_canonical_docs" -> "edges", "pl_canonical_docs" -> "bid",
    "pl_clean_corpus" -> "k",
    "pl_corpus_diff" -> "v1",
    "pl_corpus_drift" -> "v1", "pl_corpus_drift" -> "hist",
    "pl_data_quality" -> "scan",
    "pl_decon_semantic" -> "base", "pl_decon_semantic" -> "ev",
    "pl_decontaminate" -> "w",
    "pl_dsir" -> "f", "pl_dsir" -> "st",
    "pl_incremental_ingest" -> "base",
    "pl_mix_weights" -> "t",
    "pl_perplexity_filter" -> "bg", "pl_perplexity_filter" -> "f",
    // pl_semdedup base/e and pl_semdedup_trained base: materialized on
    // touch (r18 k-∝-N edit) and deleted per the shrink-on-touch rule
    "pl_suffix_dedup" -> "w",
    "sim_ann_ivf" -> "base", "sim_ann_ivf" -> "e",
    "sim_ann_ivfpq" -> "e",
    "sim_ann_lsh" -> "base", "sim_ann_lsh" -> "e",
    "sim_ann_pq" -> "e",
    "sim_ann_recall_audit" -> "e", "sim_ann_recall_audit" -> "truth",
    "sim_kmeans_assign" -> "e",
    "sim_rrf_fusion" -> "e", "sim_rrf_fusion" -> "tok",
    "sim_topk" -> "e",
    "st_stream_minhash" -> "basedocs", "st_stream_minhash" -> "sh",
    "st_stream_session_exec" -> "e",
    "st_stream_topk" -> "c",
    "tx_bigram_lm" -> "bg",
    "tx_bpe_encode" -> "wf", "tx_bpe_encode" -> "s0", "tx_bpe_encode" -> "s1",
    "tx_bpe_encode" -> "s2", "tx_bpe_encode" -> "s3", "tx_bpe_encode" -> "s4",
    "tx_bpe_encode" -> "p1", "tx_bpe_encode" -> "p2", "tx_bpe_encode" -> "p3",
    "tx_bpe_encode" -> "p4", "tx_bpe_encode" -> "p5",
    "tx_heavy_hitters" -> "w",
    "tx_tfidf" -> "t",
    "tx_unigram_encode" -> "wf", "tx_unigram_encode" -> "pc",
    "tx_unigram_encode" -> "sc1", "tx_unigram_encode" -> "n1",
    "tx_unigram_encode" -> "b2base", "tx_unigram_encode" -> "sc2",
    "tx_unigram_encode" -> "n2", "tx_unigram_encode" -> "b3base",
    "tx_unigram_encode" -> "sc3",
    "tx_unigram_lm" -> "wf", "tx_unigram_lm" -> "pc",
    "tx_unigram_lm" -> "sc1", "tx_unigram_lm" -> "n1",
    "tx_unigram_lm" -> "b2base", "tx_unigram_lm" -> "sc2",
    "w_retention_cohort" -> "e",
  )
}
