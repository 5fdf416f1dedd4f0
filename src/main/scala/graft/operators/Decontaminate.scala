package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Probe

/** Eval-set decontamination — the pretraining-pipeline pass that drops
  * (or flags) training documents sharing a long word n-gram with a
  * held-out benchmark, so the model is not graded on memorized eval
  * data (the GPT-3 appendix-C / PaLM / Llama dedup-against-eval rule;
  * 8-13 word grams are the published thresholds).
  *
  * Shape at 100 TB: the benchmark side is tiny (thousands of prompts),
  * so its distinct n-grams BROADCAST; the corpus side expands to
  * (doc_id, gram) pairs map-side — a generator inside the scan stage,
  * never a shuffle of the token stream — and the broadcast semi-join
  * keeps ids only. The single exchange in the whole plan is the
  * distinct on contaminated doc_ids (bounded by the corpus row count,
  * carrying 8-byte ids). The naive spelling — joining corpus grams to
  * eval grams on a shuffle — ships the whole tokenized corpus; this
  * one ships matched ids.
  */
object Decontaminate {

  /** All word n-grams of an array column `w`, as an array of joined
    * strings; empty (not descending — `sequence(1, 0)` yields [1, 0])
    * when the doc has fewer than n words. */
  private def gramArray(n: Int) = {
    val w = col("w")
    when(size(w) >= n,
      transform(sequence(lit(1), size(w) - (n - 1)),
        i => array_join(slice(w, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct word n-grams of `textCol`, one row per gram ("gram"). */
  def wordGrams(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.select(split(col(textCol), " ").as("w"))
      .select(explode(gramArray(n)).as("gram"))
      .distinct()

  /** Scan-stage contamination flag (r19, guide §2): the gram-explode
    * spelling below generates every corpus n-gram as an interpreted
    * transform + array_join STRING (7.5M gram rows at the sf3 rung)
    * and routes them through a semi-join, an id distinct exchange and
    * a left join back. The eval side is tiny by nature (the broadcast
    * argument [[flagContaminated]] already makes), so collect it into
    * a hash set and decide each doc in ONE UDF pass: slide the n-word
    * window, build the joined gram, probe, early-exit on the first
    * hit — one row per doc, zero exchanges before the output sort.
    * Value-identical to [[flagContaminated]]: same split(" "), same
    * space-joined window strings, docs shorter than n words (and null
    * texts, whose split-of-null produced no grams) report 0; pinned
    * pair-for-pair by FunnelDeconSpec. */
  def flagContaminatedScan(docs: DataFrame, idCol: String, textCol: String,
                           evalGrams: DataFrame, n: Int): DataFrame = {
    val evs = evalGrams.select(col("gram")).collect().map(_.getString(0))
    val set = new java.util.HashSet[String](math.max(8, evs.length * 2))
    evs.foreach(set.add)
    val flagU = Probe.udf(docs.sparkSession, "contaminated_scan", set) {
      (s, text: String) =>
        if (text == null) 0
        else {
          val w = text.split(" ", -1)
          var found = 0
          var i = 0
          val last = w.length - n
          while (i <= last && found == 0) {
            val sb = new java.lang.StringBuilder(w(i))
            var j = 1
            while (j < n) { sb.append(' ').append(w(i + j)); j += 1 }
            if (s.contains(sb.toString)) found = 1
            i += 1
          }
          found
        }
    }
    docs.select(col(idCol), flagU(col(textCol)).as("contaminated"))
  }

  /** Flag each document in `docs` (id, textCol) as contaminated iff one
    * of its word n-grams appears in `evalGrams` ("gram" column —
    * broadcast). Docs shorter than n words are never contaminated.
    * KEPT as the equivalence reference [[flagContaminatedScan]] is
    * pinned against (the query path uses the scan spelling). */
  def flagContaminated(docs: DataFrame, idCol: String, textCol: String,
                       evalGrams: DataFrame, n: Int): DataFrame = {
    val grams = docs
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .select(col(idCol), explode(gramArray(n)).as("gram"))
    val hit = grams
      .join(broadcast(evalGrams), "gram", "left_semi")
      .select(col(idCol)).distinct()
      .withColumn("contaminated", lit(1))
    docs.select(col(idCol))
      .join(hit, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("contaminated"), lit(0)).as("contaminated"))
  }
}
