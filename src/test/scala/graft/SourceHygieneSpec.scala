package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 guard for an r12-advice class of defect: a literal NUL
  * byte embedded in a source string made Graph.scala read as a
  * binary file (grep/diff/editors mangle or skip it). Source must
  * stay text: any control byte outside \n, \r and \t is a failure,
  * with the file and line reported. (The ESCAPE-SEQUENCE backslash-u
  * form in source is fine — this scans raw bytes, not semantics.)
  */
class SourceHygieneSpec extends AnyFunSuite {

  test("no raw control bytes in src/**.scala or build.sbt") {
    val roots = Seq(
      java.nio.file.Paths.get("src"),
      java.nio.file.Paths.get("build.sbt"))
    val offenders = scala.collection.mutable.ListBuffer[String]()
    def scan(p: java.nio.file.Path): Unit = {
      val bytes = java.nio.file.Files.readAllBytes(p)
      var line = 1
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xFF
        if (b == '\n') line += 1
        else if (b < 0x20 && b != '\t' && b != '\r')
          offenders += s"$p:$line byte 0x${"%02x".format(b)}"
        i += 1
      }
    }
    import scala.jdk.CollectionConverters._
    roots.foreach { r =>
      if (java.nio.file.Files.isDirectory(r))
        java.nio.file.Files.walk(r).iterator().asScala
          .filter(p => p.toString.endsWith(".scala"))
          .foreach(scan)
      else if (java.nio.file.Files.exists(r)) scan(r)
    }
    assert(offenders.isEmpty,
      s"raw control bytes in source:\n  ${offenders.take(10).mkString("\n  ")}")
  }

  test("every Hadoop conf shipped from graft.sources rides a broadcast") {
    // a SerializableConfiguration captured in a task closure is
    // serialized twice per job and deserialized by every task; a
    // broadcast ships it once
    import scala.jdk.CollectionConverters._
    val sites = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/sources"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val text = java.nio.file.Files.readString(p)
        "new SerializableConfiguration\\(".r.findAllMatchIn(text).map { m =>
          val before = text.substring(0, m.start)
          (s"$p:${before.count(_ == '\n') + 1}", before.stripTrailing.endsWith("broadcast("))
        }
      }.toSeq
    assert(sites.nonEmpty, "no SerializableConfiguration site found")
    val offenders = sites.collect { case (at, false) => at }
    assert(offenders.isEmpty,
      s"SerializableConfiguration outside a broadcast(...):\n  ${offenders.mkString("\n  ")}")
  }
}
