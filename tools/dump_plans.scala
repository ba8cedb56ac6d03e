// Dump `.explain("formatted")` for a set of queries to plans/<tag>/.
//   SPARK_GRAFT_PLAN_FILTER=q371,q403 SPARK_GRAFT_PLAN_TAG=r16 SPARK_GRAFT_PLAN_SUFFIX=before \
//   /opt/spark/bin/spark-shell --master 'local[8]' \
//     --conf spark.sql.shuffle.partitions=8 --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes -I tools/dump_plans.scala
// Filter grammar = graft.NameFilter (comma substrings, "-" excludes).
import graft._
import java.nio.file.{Files, Paths}
locally {
  val dir = sys.env.getOrElse("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.1")
  val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r16")
  val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
  val selected = NameFilter(sys.env.getOrElse("SPARK_GRAFT_PLAN_FILTER", ""))
  val outDir = Paths.get(s"plans/$tag")
  Files.createDirectories(outDir)
  SparkEntry.queries.toSeq.sortBy(_._1).filter(p => selected(p._1)).foreach { case (name, fn) =>
    try {
      val df = fn(spark, dir)
      val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), p)
      println(s"[plans] wrote $name")
    } catch { case e: Throwable => println(s"[plans] $name FAILED: ${e.getMessage}") }
  }
}
sys.exit(0)
