package graft

import graft.core.Session

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one session builder: a session it builds carries the shared
  * settings, and no other `src/main` file builds a session by hand. */
class SessionSpec extends SparkSpec {

  test("a session from Session carries UTC, nanosAsLong, UI off, AQE on and the requested width") {
    val shared = spark // SparkSpec builds it through Session.builder(4, 4)
    // a new session on the shared context: its SQL settings are the builder's own
    val s = Session.builder(4, 7).create()
    assert(s ne shared)
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "7")
    assert(s.sparkContext.uiWebUrl.isEmpty)
    assert(shared.sparkContext.master === "local[4]")
    assert(shared.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("src/main builds a SparkSession only in graft/core/Session.scala") {
    val root = Paths.get("src/main/scala")
    val builds = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        """SparkSession\s*\.\s*builder\b""".r.findFirstIn(Files.readString(p)).isDefined)
      .map(root.relativize(_).toString).toSeq
    assert(builds === Seq("graft/core/Session.scala"))
  }
}
