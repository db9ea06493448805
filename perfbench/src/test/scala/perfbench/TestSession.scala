package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One session per test JVM, built with the benchmark's settings. */
object TestSession {
  lazy val dir: String = Files.createTempDirectory("perfbench-test").toString
  lazy val spark: SparkSession = Session.build(s"$dir/spark")
  /** The repository's catalogue; tests run in the harness's directory. */
  lazy val catalogue: Catalogue = Catalogue.load("../BENCHMARK.json")
}
