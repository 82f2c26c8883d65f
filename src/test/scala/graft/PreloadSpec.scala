package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ClassList, Preload}

/** Its static initializer records that it ran. */
object PreloadProbe {
  PreloadProbeLog.initialized = true
  val touched = true
}

object PreloadProbeLog {
  @volatile var initialized = false
}

/** The cold-start class list and its walk: the list still names the
  * classes on this classpath (a Spark upgrade fails here until
  * `tools/classlist.py` is rerun), holds only library classes, and the walk
  * loads without initializing and steps over names that do not load. */
class PreloadSpec extends AnyFunSuite {

  private val loader = getClass.getClassLoader

  test("at least 99% of the listed classes load from this classpath") {
    val names = ClassList.names.toSeq
    assert(names.nonEmpty)
    val loaded = Preload.load(names.iterator, loader)
    assert(loaded >= 0.99 * names.size,
      s"$loaded of ${names.size} listed classes load; rerun tools/classlist.py")
  }

  test("the list has no duplicates and no graft, java or jdk classes") {
    val names = ClassList.names.toSeq
    assert(names.distinct.size == names.size)
    val own = names.filter(n => Seq("graft.", "java.", "jdk.").exists(n.startsWith))
    assert(own.isEmpty, own.take(10).mkString(", "))
  }

  test("a preloaded class is loaded but not initialized") {
    assert(Preload.load(Iterator("graft.PreloadProbe$"), loader) == 1)
    assert(!PreloadProbeLog.initialized)
    // the probe's initializer does run on first use
    assert(PreloadProbe.touched && PreloadProbeLog.initialized)
  }

  test("a name that does not load is skipped and the walk goes on") {
    val names = Iterator("graft.NoSuchClass", "graft.PreloadProbeLog", "no.such.Cls$",
      "scala.collection.immutable.Vector")
    assert(Preload.load(names, loader) == 2)
  }

  test("only graft.Main starts the preload") {
    val callers = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !Set("Main.scala", "Preload.scala")(p.getFileName.toString))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("Preload."))
      .toList
    assert(callers.isEmpty, callers.mkString("\n"))
    val main = new String(Files.readAllBytes(Paths.get("src/main/scala/graft/Main.scala")), "UTF-8")
    assert("""Preload\.start\(\)""".r.findAllIn(main).size == 1)
  }
}
