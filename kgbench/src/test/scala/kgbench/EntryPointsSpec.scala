package kgbench

import org.scalatest.funsuite.AnyFunSuite

/** entry_points.txt names every library entry point the harness calls, and the
  * harness calls none of the code slated for removal. */
class EntryPointsSpec extends AnyFunSuite {

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  private val sources = {
    val root = new java.io.File("src/main/scala/kgbench")
    root.listFiles().filter(_.getName.endsWith(".scala")).map(read).mkString("\n")
  }

  private val listed = read(new java.io.File("entry_points.txt")).linesIterator
    .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toVector

  test("every listed entry point is called by the harness") {
    listed.foreach { ep =>
      val parts = ep.split("\\.")
      // a type is found by its simple name, a member as Object.member
      val call = if (parts(parts.length - 2).head.isLower) parts.last
                 else parts.takeRight(2).mkString(".")
      assert(sources.contains(call), s"$ep is listed but not called")
    }
  }

  test("every graft object the harness calls is listed") {
    val called = """\b([A-Z][A-Za-z]+)\.([a-z][A-Za-z0-9]+)\b""".r.findAllMatchIn(sources)
      .map(m => s"${m.group(1)}.${m.group(2)}").toSet
    val graftObjects = listed.map(_.split("\\.").takeRight(2).head).toSet
    val unlisted = called.filter(c => graftObjects(c.split("\\.").head))
      .filterNot(c => listed.exists(_.endsWith(c)))
    assert(unlisted.isEmpty, unlisted.mkString(", "))
  }

  test("no call into code the roadmap removes") {
    Seq("""\bExtract\.""", "writeResumable", """Materialize\.compact""", "StageTimer",
      "runCheckpointed")
      .foreach(f => assert(f.r.findFirstIn(sources).isEmpty, f))
  }
}
