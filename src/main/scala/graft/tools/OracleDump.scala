package graft.tools

import java.nio.file.{Files, Paths}

/** Dev-only: dump the FULL SparkEntry.oracleSql map as JSON without
  * executing any query (no SparkSession needed) — input for
  * `tools/oracle_lint.py`, the DuckDB output-type lint that catches
  * HUGEINT-typed oracle columns before the driver's type-sensitive
  * hash compare does (the d29/d30 round-5 failure class).
  *
  * Usage: runMain graft.tools.OracleDump /tmp/oracle_sql.json
  * then:  python3 tools/oracle_lint.py /root/testdata/sf0.001 /tmp/oracle_sql.json
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val json = graft.Verify.oracleJson(graft.SparkEntry.oracleSql)
    Files.writeString(Paths.get(args(0)), json)
    println(s"wrote ${graft.SparkEntry.oracleSql.size} oracles to ${args(0)}")
  }
}
