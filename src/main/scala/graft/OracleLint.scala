package graft

/** Mechanical lint over the entries' DuckDB oracle SQL (VERDICT r16 #2):
  * a CTE referenced two or more times in TABLE position must be
  * declared `AS MATERIALIZED`. The class this enforces bit four times
  * across three scale rehearsals (most recently mm_video_near_dup's
  * >69 GB inlining spill at sf10): DuckDB re-executes a non-
  * materialized CTE once per reference, so a decode- or join-heavy
  * CTE that is cheap at sf0.01 multiplies into an oracle blowup at
  * rehearsal scale. The rule holds for every oracle, with no
  * exemptions, and runs two ways:
  *
  *  - [[OracleLintSpec]] fails `sbt test` on any violation (the
  *    authoring-time gate), and
  *  - [[Verify]] writes the synthetic RED row [[OracleLint.GuardKey]]
  *    on violation (the driver-gate backstop, the zz_ckpt_leak_guard
  *    pattern), so a lint miss turns the round's CORRECTNESS red
  *    rather than waiting for the next rehearsal to find it.
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

  /** Violations across an oracle map. */
  def violations(oracles: Map[String, String]): Seq[Violation] =
    oracles.toSeq.sortBy(_._1).flatMap { case (entry, sql) =>
      cteViolations(sql).map { case (cte, n) => Violation(entry, cte, n) }
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
        "referenced CTE(s) without AS MATERIALIZED. Violations: " +
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
}
