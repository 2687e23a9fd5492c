package graft.tools

import java.nio.file.{Files, Paths}

/** Writes just oracle_sql.json (no Spark session, no query execution) —
  * the fast path for iterating on oracle SQL against an existing
  * Verify parquet dump:
  *   runMain graft.tools.DumpOracle /tmp/verify_out
  *   python3 tools/check.py /root/testdata/sf0.01 /tmp/verify_out
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/verify_out")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.SparkEntry.oracleSqlJson())
    println(s"wrote $outDir/oracle_sql.json")
  }
}
