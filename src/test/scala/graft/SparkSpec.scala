package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.GraftSession.builder("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `mainClass` in a child JVM with this JVM's flags and classpath
    * and a 1 GB heap, its output going to `log`: a JVM holds one
    * SparkContext, and local mode retries a task only under a `local[N,F]`
    * master. Returns whether it exited 0 within 300 s, and its output.
    */
  def runChildJvm(mainClass: String, args: Seq[String], log: Path): (Boolean, String) = {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xm") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val proc = new ProcessBuilder((Seq(javaBin) ++ jvmArgs ++
        Seq("-Xmx1g", "-cp", sys.props("java.class.path"), mainClass) ++ args).asJava)
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    val finished = proc.waitFor(300, TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly()
    (finished && proc.exitValue() == 0, new String(Files.readAllBytes(log), UTF_8))
  }
}
