package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated name prefixes — verify only the
    // matching queries (builder iteration; the driver passes two args).
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    val spark = EngineConf.localSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape (shared with AuditLog): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    val q = graft.util.AuditLog.quote _
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.exists(k.startsWith)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
