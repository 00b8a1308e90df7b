package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every eager checkpoint in the engine names its reason. `.eagerCkpt`
  * runs a construction-time job and copies the frame into the block
  * manager before the query is even returned, so a call site must carry a
  * `// ckpt(<a|b|c|e>): <reason>` tag on its own line or the line before:
  * (a) several consumers that AQE cannot reuse, (b) a join or adaptive
  * choice that needs the honest size, (c) a lineage cut in an iterative
  * loop, (e) a nondeterministic value read by several consumers. A site
  * with none of these reasons is deleted, not tagged (BENCH_NOTES
  * "Eager checkpoint census"). */
class CkptCensusSpec extends AnyFunSuite {

  private val Tag = """//\s*ckpt\([abce]\):\s*\S""".r

  /** (file, line index, lines) of every `needle` in code, comments
    * excluded. */
  private def sites(root: java.io.File,
      needle: String): Seq[(String, Int, Array[String])] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    files(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toArray finally src.close()
      lines.indices.collect {
        case i if {
          val t = lines(i).trim
          !t.startsWith("*") && !t.startsWith("/*") &&
            lines(i).split("//", 2)(0).contains(needle)
        } => (f.getPath, i, lines)
      }
    }
  }

  private def mainRoot: java.io.File = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root missing")
    root
  }

  test("every .eagerCkpt in src/main carries a ckpt(a|b|c|e) tag") {
    val all = sites(mainRoot, ".eagerCkpt")
    assert(all.nonEmpty, "no .eagerCkpt call site found: the scan is broken")
    val untagged = all.collect {
      case (path, i, lines) if Tag.findFirstIn(lines(i)).isEmpty &&
          (i == 0 || Tag.findFirstIn(lines(i - 1)).isEmpty) =>
        s"$path:${i + 1}: ${lines(i).trim}"
    }
    assert(untagged.isEmpty,
      s"${untagged.size} of ${all.size} eager checkpoints name no reason:\n" +
        untagged.mkString("\n"))
  }

  test("no ckpt(a) tag is provisional: each kept site names its measurement") {
    // a (a) site kept only because its lazy plan rescans a table, or on an
    // unrepeated sf0.1 gap, was timed lazy at sf0.1 and sf1 and either
    // deleted or re-tagged with the query and the measured loss
    // (BENCH_NOTES "Provisional checkpoints settled")
    val Provisional = """ckpt\(a\):.*(lazy plan rescans|slower lazy at sf0\.1)""".r
    val all = sites(mainRoot, ".eagerCkpt")
    assert(all.nonEmpty, "no .eagerCkpt call site found: the scan is broken")
    val open = all.collect {
      case (path, i, lines) if Provisional.findFirstIn(lines(i)).nonEmpty ||
          i > 0 && Provisional.findFirstIn(lines(i - 1)).nonEmpty =>
        s"$path:${i + 1}: ${lines(i).trim}"
    }
    assert(open.isEmpty,
      s"${open.size} provisional ckpt(a) tags:\n" + open.mkString("\n"))
  }

  test("localCheckpoint( appears in src/main only in Ckpt") {
    // Ckpt.eagerCkpt is the one eager checkpoint: a bare localCheckpoint
    // is a construction job and a block-manager copy the census never sees
    val outside = outsideOf(Seq("localCheckpoint("), Seq("Ckpt.scala"))
    assert(outside.isEmpty,
      s"${outside.size} localCheckpoint calls outside Ckpt:\n" +
        outside.mkString("\n"))
  }

  test("spark_partition_id() appears in src/main only inside Ranks") {
    // the block-offset ranking (range-repartition, block id, checkpoint,
    // broadcast offsets) has one implementation, Ranks.blockRunning; a
    // block id anywhere else is a hand copy of it
    val found = sites(mainRoot, "spark_partition_id()")
    assert(found.nonEmpty, "no spark_partition_id() found: the scan is broken")
    val outside = found.collect {
      case (path, i, lines) if !path.endsWith("ops/Ranks.scala") =>
        s"$path:${i + 1}: ${lines(i).trim}"
    }
    assert(outside.isEmpty,
      s"${outside.size} block ids outside ops/Ranks.scala:\n" +
        outside.mkString("\n"))
  }

  /** Sites of any of `needles` in src/main outside the files `allowed`. */
  private def outsideOf(needles: Seq[String], allowed: Seq[String]): Seq[String] = {
    val found = needles.flatMap(sites(mainRoot, _))
    assert(found.nonEmpty, s"no ${needles.mkString("/")} found: the scan is broken")
    found.collect {
      case (path, i, lines) if !allowed.exists(f => path.endsWith("/" + f)) =>
        s"$path:${i + 1}: ${lines(i).trim}"
    }.distinct
  }

  test("writeStream appears in src/main only in EventStreams") {
    // every streaming run starts, scopes its confs and stops in
    // EventStreams.run; a writeStream anywhere else is a second lifecycle
    val outside = outsideOf(Seq("writeStream"), Seq("EventStreams.scala"))
    assert(outside.isEmpty,
      s"${outside.size} streams started outside EventStreams.run:\n" +
        outside.mkString("\n"))
  }

  test("conf.set( and conf.unset( appear in src/main only in GraftSession and Tables") {
    // session confs are set once when the session is built or a corpus is
    // read (GraftSession.local, Tables), and every scoped change goes
    // through GraftSession.withConfs, which restores what it set
    val outside = outsideOf(Seq("conf.set(", "conf.unset("),
      Seq("GraftSession.scala", "Tables.scala"))
    assert(outside.isEmpty,
      s"${outside.size} session conf writes outside GraftSession/Tables:\n" +
        outside.mkString("\n"))
  }

  test("no for (int loop in src/main: generated code calls a shared kernel") {
    // a vector kernel is one static loop that the interpreted and the
    // generated path both call (ArrayMath); a loop written out as Java in
    // a doGenCode string is a second copy of it
    val found = sites(mainRoot, "for (int").map { case (path, i, lines) =>
      s"$path:${i + 1}: ${lines(i).trim}"
    }
    assert(found.isEmpty,
      s"${found.size} hand-written generated-code loops:\n" + found.mkString("\n"))
  }
}
