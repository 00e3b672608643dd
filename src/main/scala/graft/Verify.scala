package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also records a CANONICAL PER-QUERY RESULT HASH (engine side) into
  * `outDir/engine_hashes.json` AND best-effort into the repo worktree
  * (`VERIFY_HASHES_LATEST.json`), so a driver-vs-local gate divergence
  * can be root-caused from artifacts: the r9 round shipped exactly one
  * red row (`stat_permutation_fdr`) that no local reproduction could
  * explain because neither side's computed hash was recorded anywhere.
  * `scripts/check.py` implements the SAME canonicalization in Python
  * (over Arrow values) for both the dump and the DuckDB oracle result,
  * and cross-checks its engine-side hash against this file — so a
  * mismatch cleanly separates "the engines disagree" from "the hash
  * spec drifted". */
object Verify {

  /** Canonical rendering, mirrored byte-for-byte by scripts/check.py
    * (`render`/`canonical_hash`): columns sorted by name; each cell →
    * NULL "\\N"; double/float → 16-hex IEEE-754 bits (NaN canonical,
    * signed zero preserved — the whole point); boolean lowercase;
    * decimal `toPlainString` (scale preserved); timestamp → epoch
    * micros; date → epoch days; binary → lowercase hex; arrays
    * rendered recursively `[a, b]`; structs rendered as sorted
    * `name=value` pairs like maps (matching the Python dict render).
    * Rows joined by \u0001, sorted as
    * strings AFTER rendering (avoids cross-language sort-order traps),
    * md5 over header + rows. */
  def renderCell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => f"${java.lang.Double.doubleToLongBits(d)}%016x"
    case f: Float => f"${java.lang.Double.doubleToLongBits(f.toDouble)}%016x"
    case b: Boolean => if (b) "true" else "false"
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case t: java.sql.Timestamp =>
      (t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L).toString
    case i: java.time.Instant =>
      (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case s: scala.collection.Seq[_] =>
      s.map(renderCell).mkString("[", ", ", "]")
    case r: org.apache.spark.sql.Row =>
      // Structs must render as the SORTED "name=value" form check.py
      // produces for the Arrow struct dict (r10 ADVICE: the old
      // positional "{v1, v2}" would fire a spurious HASH-SPEC-MISMATCH
      // on the first struct-typed output column). Schema-less Rows keep
      // the positional fallback — no registered output produces one.
      if (r.schema != null)
        r.schema.fieldNames.zip(r.toSeq)
          .map { case (n, v) => s"$n=${renderCell(v)}" }
          .sorted.mkString("{", ", ", "}")
      else r.toSeq.map(renderCell).mkString("{", ", ", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${renderCell(k)}=${renderCell(x)}" }
        .sorted.mkString("{", ", ", "}")
    case other => other.toString
  }

  /** `s` as a JSON string literal — the one escaper of every JSON
    * artifact (oracle_sql.json, the Bench line, the profile records).
    * Backslash, quote and ALL control chars (<0x20) are escaped: a tab
    * or CR in an oracle text, or a multi-line exception message, would
    * otherwise make the reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def canonicalHash(df: org.apache.spark.sql.DataFrame): (String, Long) = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(org.apache.spark.sql.functions.col).toSeq: _*)
      .collect()
    val rendered = rows.map(_.toSeq.map(renderCell).mkString("\u0001")).sorted
    val content = (cols.mkString("\u0001") +: rendered).mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5")
    val hash = md.digest(content.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    (hash, rows.length.toLong)
  }

  /** Log level WARN, but ERROR for two warnings logged by design: the
    * global windows over calendar-bounded frames, and "Disabling AQE" on
    * every stateful stream whatever the session's AQE setting. */
  def quietLogs(spark: SparkSession): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    Seq("org.apache.spark.sql.execution.window.WindowExec",
      "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution")
      .foreach(Configurator.setLevel(_, Level.ERROR))
  }

  /** The checkout a full run mirrors its hashes into: the
    * `graft.repo.root` system property, else `GRAFT_REPO_ROOT`, else the
    * working directory — the checkout the run was started from. */
  def mirrorRoot(props: Map[String, String], env: Map[String, String]): String =
    props.get("graft.repo.root")
      .orElse(env.get("GRAFT_REPO_ROOT"))
      .getOrElse(props.getOrElse("user.dir", "."))

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (targeted local checks)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    quietLogs(spark)
    graft.plans.GraftExtensions.register(spark)
    new java.io.File(outDir).mkdirs()
    // 4 concurrent dumps: a Spark session schedules jobs from multiple
    // threads safely, and most queries leave the 32 cores underused
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val hashes = new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
    val futures = selected.map { case (name, fn) =>
      scala.concurrent.Future {
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // hash what was WRITTEN (the artifact the driver compares),
          // not the live plan — a re-execution could differ.
          hashes.put(name, canonicalHash(spark.read.parquet(s"$outDir/$name")))
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val hashJson = {
      import scala.jdk.CollectionConverters._
      val entries = hashes.asScala.toSeq.sortBy(_._1).map {
        case (k, (h, n)) =>
          val scope =
            if (SparkEntry.sameHostDeterministic(k))
              s""", ${jsonString("determinism")}: ${jsonString("same-host")}"""
            else if (SparkEntry.crossLayoutDeterministic(k))
              s""", ${jsonString("determinism")}: ${jsonString("cross-layout")}"""
            else ""
          s"${jsonString(k)}: {${jsonString("hash")}: ${jsonString(h)}, " +
            s"${jsonString("rows")}: $n$scope}"
      }.mkString(", ")
      s"""{${jsonString("spark_version")}: ${jsonString(spark.version)}, """ +
        s"""${jsonString("queries")}: {$entries}}"""
    }
    Files.writeString(Paths.get(s"$outDir/engine_hashes.json"), hashJson)
    // Best-effort repo mirror so the DRIVER's own run leaves the
    // engine-side hashes somewhere auditable (the driver archives
    // CORRECTNESS but not its temp dump dir). Full runs only — a
    // targeted subset run must not clobber the full record. A skip or
    // failure is LOGGED (r10 ADVICE: a silent catch-all defeats the
    // auditability the mirror exists for).
    if (only.isEmpty) {
      val repoRoot = mirrorRoot(sys.props.toMap, sys.env)
      try Files.writeString(
        Paths.get(s"$repoRoot/VERIFY_HASHES_LATEST.json"), hashJson)
      catch { case e: Throwable => System.err.println(
        s"[verify] hash-mirror write to $repoRoot failed: ${e.getMessage}") }
    } else System.err.println(
      "[verify] subset run — VERIFY_HASHES_LATEST.json mirror not updated")
    spark.stop()
  }
}
