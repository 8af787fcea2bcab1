package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine layers take their behaviour from arguments and the session
  * conf, not from the process environment: a measured decision keeps its
  * winner and loses its switch. */
class KnobsSpec extends AnyFunSuite {

  private val layers = Seq("kernels", "operators", "functions", "model", "sources", "streaming")
  // diagnostic hooks, not behaviour switches
  private val allowed = Seq("SPARK_GRAFT_ITER_DEBUG", "SPARK_GRAFT_EXPLAIN_DIR")
  private val read = """sys\.(props|env)|System\.(getenv|getProperty)""".r

  private val materialize = Paths.get("kernels", "Materialize.scala")

  private def engineSources: Seq[Path] = layers.flatMap { l =>
    val dir = Paths.get("src/main/scala/graft", l)
    assert(Files.isDirectory(dir), s"missing source dir $dir")
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  private def linesMatching(files: Seq[Path])(hit: String => Boolean): Seq[String] = for {
    f <- files
    (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    if hit(line)
  } yield s"$f:${i + 1}: ${line.trim}"

  test("engine layers read no env var or system property but the two diagnostic hooks") {
    val files = engineSources
    assert(files.nonEmpty)
    val offending = linesMatching(files)(line =>
      read.findFirstIn(line).isDefined && !allowed.exists(line.contains))
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  test("engine layers materialize through checkpoints; only kernels.Materialize observes or frees") {
    val files = engineSources
    assert(files.exists(_.endsWith(materialize)), s"$materialize is missing")
    val offending = linesMatching(files.filterNot(_.endsWith(materialize)))(l =>
      l.contains(".persist(") || l.contains(".cache()") || l.contains("unpersist(") ||
        l.contains("Observation"))
    assert(offending.isEmpty, offending.mkString("\n"))
  }

  test("engine layers checkpoint only through kernels.Materialize") {
    // SparkEntry's query bodies too: every block the engine writes has the
    // one storage level Materialize gives it
    val files = engineSources :+ Paths.get("src/main/scala/graft/SparkEntry.scala")
    assert(files.exists(_.endsWith(materialize)), s"$materialize is missing")
    val offending =
      linesMatching(files.filterNot(_.endsWith(materialize)))(_.contains(".localCheckpoint("))
    assert(offending.isEmpty, offending.mkString("\n"))
  }
}
