package graft

import java.nio.file.{Files, Paths}

/** The reference-shaped SAR JSON fixture at NATIVE resolution
  * (FIXTURES.md §1): 40 records of {id, band_1[5625], band_2[5625],
  * inc_angle (dirty "na" strings), is_iceberg (nullable)} — 75×75
  * bands exactly like the Kaggle input (main.py:5,63-64). Shared by
  * the s1 ingest gate and the native-resolution geometry gate
  * (a_native_75).
  *
  * Ordering contract (r5 advice): the oracle SQL for those entries
  * embeds this absolute path, so the file must exist wherever that SQL
  * can be evaluated. [[ensure]] runs (a) at class-init — any JVM that
  * can HOLD the oracle string has, by construction, already
  * materialized the fixture — and (b) explicitly from Verify/Bench
  * main as harness setup, so no query fn pays the write and no driver
  * phase ordering can observe a missing file. The write is
  * load-if-exists (the reference's S5 cache semantics, main.py:93)
  * and the content is a pure function of a fixed seed, so a reused
  * file is always byte-identical to a fresh one.
  */
object SarFixture {
  /** Native image width/height (main.py:5: image_size 75). */
  val W = 75
  val rows = 40

  val path: String =
    new java.io.File("target/tmp/sar_fixture_75.json").getAbsolutePath

  /** The DuckDB table function reading the fixture with its explicit
    * schema — the one spelling every oracle over it uses. */
  val sqlRead: String =
    s"""read_json('$path', columns = {id: 'VARCHAR', band_1: 'DOUBLE[]',
       |  band_2: 'DOUBLE[]', inc_angle: 'VARCHAR', is_iceberg: 'INTEGER'})""".stripMargin

  /** Deterministic content: one-decimal band values so both JSON
    * parsers (Spark, DuckDB read_json) reconstruct identical doubles;
    * every 5th inc_angle is "na" starting at row 2 (row 1 stays
    * numeric so the forward-fill pad always has a seed); every 7th
    * is_iceberg is absent (nullable label, the test.json shape). */
  private def gen(): String = {
    var st = 20260812L
    def nxt(): Long = { st = (st * 1103515245L + 12345L) & 0x7fffffffL; st }
    val out = (1 to rows).map { i =>
      def band() =
        Seq.fill(W * W)((nxt() % 2000 - 1000) / 10.0).mkString("[", ",", "]")
      val inc =
        if (i % 5 == 2) "\"na\""
        else "\"" + ((nxt() % 300) / 10.0 + 30.0) + "\""
      val ice = if (i % 7 == 3) "" else s""","is_iceberg":${nxt() % 2}"""
      f"""{"id":"s$i%03d","band_1":${band()},"band_2":${band()},"inc_angle":$inc$ice}"""
    }
    out.mkString("[\n", ",\n", "\n]")
  }

  /** Load-if-exists write (S5 semantics): repeated calls — bench
    * passes, verify, tests — cost one stat(2) after the first. The
    * path is fixed (oracle SQL embeds it), so this is a single file,
    * not a [[Tables.fixture]] dir; the write goes to a temp file and
    * [[Tables.publish]] renames it into place — a bare writeString is
    * not atomic, so a run killed mid-write would otherwise leave a
    * truncated fixture that every later exists()-check trusts. */
  def ensure(): Unit = {
    val p = Paths.get(path)
    if (!Files.exists(p)) {
      Files.createDirectories(p.getParent)
      val tmp = p.resolveSibling(p.getFileName.toString + s".tmp.${ProcessHandle.current().pid()}")
      Files.writeString(tmp, gen())
      Tables.publish(tmp, p)
    }
  }

  ensure() // class-init: holders of the embedded-path oracle SQL have the file
}
