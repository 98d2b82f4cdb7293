package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for a set of declared queries to files —
  * the plan evidence the optimization rounds commit under `plans/rNN/`.
  *
  * args: <sfDir> <outDir> <suffix> <query[,query...]>
  * writes <outDir>/<query>_<suffix>.txt
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, qlist) = args.take(4)
    val spark = Sessions.build()
    Files.createDirectories(Paths.get(outDir))
    qlist.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $name ($suffix): ${plan.linesIterator.size} lines")
    }
    spark.stop()
  }
}
