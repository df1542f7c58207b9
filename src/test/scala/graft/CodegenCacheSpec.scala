package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Generated classes stay resident in a [[Graft.localSession]] JVM: a warm
  * re-run of the UBA sweep compiles nothing.
  *
  * The codegen cache is JVM-global and sized by the first session that
  * generates code, and this suite's JVM is shared with every other suite.
  * So the re-run happens in a child JVM on this JVM's classpath, where
  * the factory's session is the first ([[WarmRerunProbe]]).
  */
class CodegenCacheSpec extends AnyFunSuite {

  test("the session factory sizes the codegen cache and keys it stably") {
    val confs = Graft.sessionConfs(4).toMap
    assert(confs("spark.sql.codegen.cache.maxEntries") === "2000")
    // stage ids out of class names: AQE may renumber an unchanged plan
    assert(confs("spark.sql.codegen.useIdInClassName") === "false")
  }

  test("a warm re-run of the UBA sweep compiles no generated class") {
    val java = s"${sys.props("java.home")}/bin/java"
    // this JVM's options (module opens, system properties, code cache)
    // with a small heap: the probe reads sf0.001
    val jvmOpts = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(o => o.startsWith("-Xmx") || o.startsWith("-agentlib"))
    val cmd = Seq(java) ++ jvmOpts ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
      "graft.WarmRerunProbe", TestData.dir("0.001"))
    val log = File.createTempFile("warm-rerun", ".log")
    log.deleteOnExit()
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).redirectOutput(log).start()
    val finished = proc.waitFor(10, TimeUnit.MINUTES)
    if (!finished) proc.destroyForcibly()
    val out = Files.readAllLines(log.toPath).asScala
    assert(finished, "probe JVM timed out")
    val line = out.find(_.startsWith(WarmRerunProbe.Tag)).getOrElse(
      fail(s"probe printed no result (exit ${proc.exitValue()}):\n${out.takeRight(40).mkString("\n")}"))
    val Seq(cache, cold, warm) = WarmRerunProbe.Fields.map(k =>
      s"$k=(\\d+)".r.findFirstMatchIn(line).get.group(1).toLong)
    assert(cache === Graft.CodegenCacheEntries)
    // the cold pass alone overflows Spark's default 100-entry cache
    assert(cold > 100, line)
    assert(warm === 0, line)
  }
}

/** Child-JVM side of [[CodegenCacheSpec]]: runs the 14 events-only UBA
  * queries twice in one [[Graft.localSession]] and prints the number of
  * Janino compilations of each pass.
  * Usage: `graft.WarmRerunProbe <sfDir>`. */
object WarmRerunProbe {
  val Tag = "WARM_RERUN"
  val Fields = Seq("cache", "cold", "warm")

  val Queries = Seq(
    "retention_count", "retention_sum", "u43_retention_decay", "q16_cohort_matrix",
    "u1_funnel_stages", "u2_funnel_report", "u21_funnel_latency", "q10_sessionize",
    "q22_session_stats", "u5_transitions", "u9_top_paths", "u11_growth_accounting",
    "u4_skew_salted", "u14_skew_profile")

  def main(args: Array[String]): Unit = {
    val spark = Graft.localSession("warm-rerun-probe", cores = 2, shufflePartitions = 4)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val before = compiles
      Queries.foreach(q => SparkEntry.queries(q)(spark, args(0))
        .write.format("noop").mode("overwrite").save())
      compiles - before
    }
    val cold = pass()
    val warm = pass()
    val cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    println(s"$Tag cache=$cache cold=$cold warm=$warm")
    spark.stop()
  }
}
