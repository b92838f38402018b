package graft.perfbench

import java.nio.file.{Files, Paths}

/** Writes `{statement: oracle SQL}` for one workload's statements, for
  * `perfbench/make_expected.py`. Usage: OracleSql OUT.json WORKLOAD */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val names = Workloads(args(1)).map(_.statements.toSet).getOrElse(sys.error(s"unknown workload ${args(1)}"))
    Files.writeString(Paths.get(args(0)), Json.value(graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) }))
  }
}
