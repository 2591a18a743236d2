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

  /** A source file's text with its comments stripped. */
  private def code(p: java.nio.file.Path) = java.nio.file.Files.readString(p)
    .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)(^|\\s)//.*$", "$1")

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

  test("every public def in sources/FileOps.scala has a caller outside the specs") {
    // a public function only specs call is a twin of the production
    // path, checked in place of it; callers count in the program and in
    // the benchmark harness, with comments stripped
    import scala.jdk.CollectionConverters._
    val fileOps = code(java.nio.file.Paths.get("src/main/scala/graft/sources/FileOps.scala"))
    val defs = "(?m)^  def (\\w+)".r.findAllMatchIn(fileOps).map(_.group(1)).toSeq.distinct
    assert(defs.contains("copyFiles"), s"FileOps defs not found: $defs")
    val callers = Seq("src/main", "perfbench/harness").map(java.nio.file.Paths.get(_))
      .filter(java.nio.file.Files.isDirectory(_))
      .flatMap(r => java.nio.file.Files.walk(r).iterator().asScala
        .filter(_.toString.endsWith(".scala")).map(code))
    val uncalled = defs.filterNot { d =>
      val use = s"(?<!def )\\b$d\\b".r
      callers.exists(use.findFirstIn(_).isDefined)
    }
    assert(uncalled.isEmpty, s"FileOps defs called only from specs: ${uncalled.mkString(", ")}")
  }

  test("sources/FileOps.scala orders and numbers a transfer plan at one site each") {
    // the driver and distributed plans share the binary UTF-8 order and
    // the name_N numbering, so the two arms cannot drift apart
    val fileOps = code(java.nio.file.Paths.get("src/main/scala/graft/sources/FileOps.scala"))
    for (site <- Seq("compareUnsigned", "determineDestinationFullPath")) {
      val n = s"\\b$site\\b".r.findAllMatchIn(fileOps).size
      assert(n === 1, s"$site appears at $n sites in FileOps.scala")
    }
  }

  /** Every source file under sources/, with its comments stripped. */
  private def sourcesCode: Seq[(java.nio.file.Path, String)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft/sources"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).map(p => p -> code(p)).toSeq
  }

  test("sources/ defines the remote FileSystem skeleton in one file") {
    // the gftp, gftps and gsftp adapters share one skeleton; a second
    // definition of any of these is a second copy of it, where a
    // change (a connection pool) would have to be made twice
    val files = sourcesCode
    for (d <- Seq("def initialize(", "def withClient[", "def withStreamClient[", "def listStatus(")) {
      val in = files.collect { case (p, text) if text.contains(d) => p }
      assert(in.size === 1, s"$d is defined in ${in.size} files: ${in.mkString(", ")}")
    }
  }

  test("sources/ opens a remote client at one site: the pool's checkout") {
    // every FS call and stream takes its client from the adapter's
    // pool; a second call of client() would open a connection the pool
    // never reuses, or one it never closes
    val sites = sourcesCode.flatMap { case (p, text) =>
      "(?<!def )\\bclient\\(\\)".r.findAllMatchIn(text).map(_ => p.getFileName.toString)
    }
    assert(sites === Seq("ClientFileSystem.scala"), s"client() is called in ${sites.mkString(", ")}")
  }

  test("every fs.<scheme>.* key a remote adapter reads is part of its pool identity") {
    // a pooled client is reused by every view with the same identity,
    // so a conf value that shapes the client (a TLS or host-key
    // setting) left out of the key would hand one identity's client to
    // another
    val adapters = sourcesCode.filter(_._1.getFileName.toString.endsWith("FileSystem.scala"))
      .map(_._2)
    val perScheme = adapters.flatMap("s\"fs\\.\\$scheme\\.([\\w.]+)\"".r.findAllMatchIn(_))
      .map(_.group(1)).distinct
    assert(perScheme.nonEmpty, "no fs.$scheme.* key found")
    val named = adapters.flatMap("\"(fs\\.(gftps?|gsftp)\\.[\\w.]+)\"".r.findAllMatchIn(_))
      .map(_.group(1))
    assert(named.nonEmpty, "no adapter conf key found")
    for ((scheme, fs) <- Seq[(String, () => graft.sources.ClientFileSystem[_])](
        "gftp" -> (() => new graft.sources.ftp.GraftFtpFileSystem),
        "gftps" -> (() => new graft.sources.ftp.GraftFtpsFileSystem),
        "gsftp" -> (() => new graft.sources.ssh.GraftSftpFileSystem))) {
      def key(set: Option[(String, String)]): String = {
        val conf = new org.apache.hadoop.conf.Configuration(false)
        set.foreach { case (k, v) => conf.set(k, v) }
        val f = fs()
        f.initialize(java.net.URI.create(s"$scheme://127.0.0.1"), conf)
        f.poolKey
      }
      val keys = perScheme.map(k => s"fs.$scheme.$k") ++ named.filter(_.startsWith(s"fs.$scheme."))
      for (k <- keys.distinct) {
        assert(key(Some(k -> "7021")) !== key(None), s"$k is not part of the $scheme pool identity")
        assert(key(Some(k -> "7021")) !== key(Some(k -> "7022")), s"$k's value is not part of it")
      }
    }
  }

  test("operators/Graph.scala reads relations to the driver in at most two places") {
    // LocalGraph's edge read and trussLocal's triangle read: every
    // driver-local graph kernel runs over the one LocalGraph a cache
    // entry builds, so a third site is a per-kernel graph build
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/operators/Graph.scala"))
    val sites = "executeCollect\\(".r.findAllMatchIn(text)
      .map(m => text.substring(0, m.start).count(_ == '\n') + 1).toSeq
    assert(sites.nonEmpty, "no executeCollect site found")
    assert(sites.size <= 2,
      s"executeCollect( at Graph.scala lines ${sites.mkString(", ")}")
  }

  /** Every source file under src/main and src/test but this one, with
    * its comments stripped.
    */
  private def allCode: Seq[(java.nio.file.Path, String)] = {
    import scala.jdk.CollectionConverters._
    Seq("src/main/scala", "src/test/scala").flatMap(r =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(r)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "SourceHygieneSpec.scala")
        .map(p => p -> code(p)))
  }

  test("the pin rule lives in SessionCaches: its bound, its pin forms and its spill branch") {
    // every session-cached relation is counted and kept or spilled by
    // SessionCaches.pinCounted / pinByRows; a copy of the rule
    // elsewhere is a second place its bound and its temps must change
    val (home, others) = allCode.filter(_._1.toString.contains("src/main"))
      .partition(_._1.getFileName.toString == "SessionCaches.scala")
    val markers = Seq("val ResultPinMaxRows", "def pinByRows", "def pinCounted",
      "registerTemp(", "graft.tmpDir")
    for (m <- markers) {
      assert(home.exists(_._2.contains(m)), s"$m not found in SessionCaches.scala")
      val in = others.collect { case (p, text) if text.contains(m) => p }
      assert(in.isEmpty, s"$m outside SessionCaches: ${in.mkString(", ")}")
    }
    // the copied form: compare a count with the bound, keep or spill
    val copied = others.collect {
      case (p, text) if "ResultPinMaxRows\\)\\s*\\w+\\s+else\\b".r.findFirstIn(text).isDefined => p
    }
    assert(copied.isEmpty, s"a keep-or-spill branch outside SessionCaches: ${copied.mkString(", ")}")
  }

  test("a LocalGraph is built only by Graph.sized") {
    // one driver-local graph per cached relation, sized by the one
    // dispatch helper; a second build site is a second id-to-index map
    // and a second dispatch count
    val sites = allCode.flatMap { case (p, text) =>
      "(?<!class |new )\\bLocalGraph\\(".r.findAllMatchIn(text).map { m =>
        val enclosing = "def (\\w+)".r.findAllMatchIn(text.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption
        s"${p.getFileName}:${enclosing.getOrElse("?")}"
      }
    }
    assert(sites === Seq("Graph.scala:sized"), s"LocalGraph(...) built at ${sites.mkString(", ")}")
    val news = allCode.flatMap { case (p, text) =>
      "\\bnew LocalGraph\\(".r.findAllMatchIn(text).map(_ => p.getFileName.toString)
    }
    assert(news === Seq("Graph.scala"), s"new LocalGraph( in ${news.mkString(", ")}")
  }

  test("each graft SQL function name is spelled at one site: the GraftFunctions table") {
    // the session extension and register() both build from the one
    // table; a name spelled anywhere else is a second list that can
    // drift from it (calling a function by name is a use, not a list)
    val main = allCode.filter(_._1.toString.contains("src/main"))
    val names = graft.functions.GraftFunctions.all.map(_._1)
    assert(names.contains("dot_d"), s"GraftFunctions names: $names")
    for (n <- names) {
      val literal = ("(?<!call_function\\()\"" + java.util.regex.Pattern.quote(n) + "\"").r
      val sites = main.flatMap { case (p, text) =>
        literal.findAllMatchIn(text).map(_ => p.getFileName.toString)
      }
      assert(sites === Seq("GraftFunctions.scala"), s""""$n" spelled in ${sites.mkString(", ")}""")
    }
    for (hook <- Seq("createOrReplaceTempFunction(", "injectFunction(")) {
      val n = main.map(_._2.split(java.util.regex.Pattern.quote(hook), -1).length - 1).sum
      assert(n === 1, s"$hook called at $n sites")
    }
  }

  test("both FastSS arms emit pairs through one function: witnessDist( is called only in emitBucket") {
    // the driver arm and the distributed emission stage share one
    // per-bucket sort and witness loop; a second caller is a copy
    val sites = allCode.flatMap { case (p, text) =>
      "(?<!def )\\bwitnessDist\\(".r.findAllMatchIn(text).map { m =>
        val enclosing = "def (\\w+)".r.findAllMatchIn(text.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption
        s"${p.getFileName}:${enclosing.getOrElse("?")}"
      }
    }
    assert(sites === Seq("Dedup.scala:emitBucket"), s"witnessDist( called at ${sites.mkString(", ")}")
  }

  test("streaming/DocStreams.scala holds no copy of a batch operator's per-document kernel") {
    // the trained-model applies (tokenize, perplexity, RAG, quality
    // filter, lang-id) run on a stream as their batch functions; a
    // reference to one of their kernels here is a copied apply
    val text = code(java.nio.file.Paths.get("src/main/scala/graft/streaming/DocStreams.scala"))
    assert(text.contains("def dupSpanOn"), "DocStreams.scala not found")
    val kernels = Seq("encodeWord", "scoreDoc", "embedText", "featurize", "keepRule",
      "LangIdModel")
    val found = kernels.filter(k => s"\\b$k\\b".r.findFirstIn(text).isDefined)
    assert(found.isEmpty, s"DocStreams.scala references ${found.mkString(", ")}")
  }
}
