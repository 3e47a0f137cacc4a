package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The one-session-factory contract: every entry point builds its
  * session through [[Session]], `-Dspark.*` properties override its
  * defaults, and checkpoint dirs come from its one helper. */
class SessionSpec extends AnyFunSuite with SparkSpec {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  private def sitesOf(needle: String): Seq[String] =
    mainSources.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"$p:${i + 1}"
      }
    }

  test("src/main builds sessions and sets checkpoint dirs only in Session") {
    // split so this file is not itself a builder site for a text search
    val builders = sitesOf("SparkSession" + ".builder")
    assert(builders.size == 1 && builders.head.contains("graft/Session.scala"),
      s"session builders outside the factory: $builders")
    val ckpt = sitesOf("setCheckpointDir(")
    assert(ckpt.size == 1 && ckpt.head.contains("graft/Session.scala"),
      s"checkpoint dirs set outside the helper: $ckpt")
  }

  test("the factory's conf is the bench conf set") {
    val c = Session.conf("graft-conf-check", cpus = 3)
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", Tables.nanosConf, "spark.ui.enabled",
      "spark.sql.codegen.useIdInClassName", "spark.sql.codegen.cache.maxEntries")
    assert(keys.map(c.get) ==
      Seq("local[3]", "3", "UTC", "true", "false", "false", "2000"))
    assert(Session.conf("m", 3, master = Some("local[1]")).get("spark.master") == "local[1]")
  }

  test("a spark.* system property overrides the factory default for its key") {
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(sys.props.get(key).isEmpty, s"$key is already a JVM property")
    sys.props(key) = "17"
    try {
      val c = Session.conf("graft-override-check", cpus = 3)
      assert(c.get(key) == "17")
      assert(c.get("spark.sql.shuffle.partitions") == "3")
    } finally sys.props.remove(key)
    assert(Session.conf("graft-override-check", cpus = 3).get(key) == "2000")
  }

  test("the checkpoint helper keeps a checkpoint dir the caller set") {
    val sc = spark.sparkContext
    Session.ensureCheckpointDir(spark)
    val before = sc.getCheckpointDir.get
    val mine = Files.createTempDirectory("graft-ckpt-spec-").toString
    sc.setCheckpointDir(mine)
    val set = sc.getCheckpointDir
    try {
      Session.ensureCheckpointDir(spark)
      assert(sc.getCheckpointDir == set && set.exists(_.startsWith(s"file:$mine")))
    } finally {
      sc.setCheckpointDir(before)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mine))
    }
  }
}
