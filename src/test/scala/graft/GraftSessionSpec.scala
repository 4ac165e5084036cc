package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("GraftSession.scala is the only session builder under src/") {
    // One session factory: a second builder is a second conf set, and
    // copies drift (the test session once lacked the cached-plan AQE
    // flag, so specs pinned plans the bench never ran).
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src")
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val found = java.nio.file.Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && builder.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(p => root.relativize(p).toString).toSeq
    assert(found == Seq("main/scala/graft/GraftSession.scala"),
      s"session builders outside the factory: $found")
  }

  test("the test session carries every conf the factory sets") {
    assert(spark.sparkContext.master == "local[4]")
    val drifted = GraftSession.confs(4).collect {
      case (k, v) if !spark.conf.getOption(k).contains(v) =>
        s"$k: want $v, have ${spark.conf.getOption(k)}"
    }
    assert(drifted.isEmpty, drifted.mkString("\n"))
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
  }

  test("malformed SPARK_GRAFT_CPUS / SPARK_GRAFT_TRAINER_CKPT_MIN_DOCS yield the defaults") {
    import GraftSession.{parseCpus, DefaultCpus}
    assert(parseCpus(None) == DefaultCpus)
    assert(parseCpus(Some(" 8 ")) == 8)
    Seq("", "abc", "4x", "0", "-2", "2.5").foreach { raw =>
      assert(parseCpus(Some(raw)) == DefaultCpus, s"SPARK_GRAFT_CPUS='$raw'")
    }
    import llm.BpeQueries.ckptMinDocs
    assert(ckptMinDocs(None) == 100000L)
    assert(ckptMinDocs(Some("5000")) == 5000L)
    Seq("", "lots", "1e5", "100k").foreach { raw =>
      assert(ckptMinDocs(Some(raw)) == 100000L, s"SPARK_GRAFT_TRAINER_CKPT_MIN_DOCS='$raw'")
    }
  }

  test("HostLoad core rates: jiffy deltas over the window, -1 when /proc is unknown") {
    import HostLoad.{Jiffies, foreignCores, foreignSysCores, stealCores}
    // Over 10 s: 3000 host user jiffies, 1000 ours -> 2 foreign cores;
    // 500 host sys, 300 ours -> 0.2; 400 steal -> 0.4.
    val (a, b) = (Jiffies(10000, 2000, 5000, 1000, 700), Jiffies(13000, 3000, 5500, 1300, 1100))
    assert(Seq(foreignCores(a, b, 10), foreignSysCores(a, b, 10), stealCores(a, b, 10))
      .zip(Seq(2.0, 0.2, 0.4)).forall { case (x, y) => math.abs(x - y) < 1e-9 })
    val unknown = Jiffies(-1, -1, -1, -1, -1)
    assert(foreignCores(unknown, b, 10) == -1.0 && stealCores(a, unknown, 10) == -1.0)
  }
}
