package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source scans of `src/main/scala/graft`: every public operator is
  * reached from `src/main` (a registered query, a main or another
  * operator) or is on the allowlist below with its reason, and no doc
  * comment is orphaned by a second one directly after it. */
class SurfaceSpec extends AnyFunSuite {

  /** Public defs that no `src/main` code calls, each with the reason it
    * stays. An entry that gains a caller or goes away fails the scan
    * too, so the list cannot go stale. */
  private val allowed: Map[String, String] = {
    val pipeline = "reference-pipeline entry point (the paper's pipeline; COVERAGE.md)"
    val referenceImpl = "reference implementation a spec compares the fused kernel against"
    val later = "batch operator used only by its spec; kept pending a decision (ROADMAP)"
    Map(
      "Readers.booksCsv" -> pipeline,
      "Readers.urlsTxt" -> pipeline,
      "Readers.alignmentTsv" -> pipeline,
      "Sinks.tsv" -> pipeline,
      "Sinks.jsonPerRow" -> pipeline,
      "Sinks.textLines" -> pipeline,
      "Sinks.partitionedDataset" -> pipeline,
      "Sinks.segmentFiles" -> pipeline,
      "Sinks.dictionaryEncode" -> pipeline,
      "Sinks.bucketedTable" -> pipeline,
      "Sinks.rangeSortedParquet" -> pipeline,
      "Assets.datasetTree" -> pipeline,
      "Assets.orphanWavs" -> pipeline,
      "Assets.audioGroups" -> pipeline,
      "Qc.runQc" -> pipeline,
      "Qc.filterRejected" -> pipeline,
      "Audio.qualifyBooks" -> pipeline,
      "EventStreams.writeParquetSink" -> (pipeline + ": the streaming sink, COVERAGE S16"),
      "TextFunctions.stripPunct" -> "reference step F8 (process_all.py:281-283; COVERAGE F8)",
      "HashFunctions.minhashPerm" -> (referenceImpl + ": DedupSpec, minhashSignatures"),
      "VectorFunctions.hyperplaneBucket" ->
        (referenceImpl + ": VectorFunctionsSpec, hyperplaneBuckets"),
      "LangId.predictColumnForm" -> (referenceImpl + ": LangIdSpec, the fused predict"),
      "PlanDump.skeleton" -> "the operator-tree key PlanFreshnessSpec compares PLANS.md by",
      "Graph.kCoreFixpoint" -> (later + ": GraphSpec"),
      "Layout.clusterByZorder" -> (later + ": LayoutSpec"),
      "Features.fitStandardizer" -> (later + ": FeaturesSpec"),
      "Features.standardize" -> (later + ": FeaturesSpec"),
      "Stats.fitHistogramBaseline" -> (later + ": StatsSpec"),
      "Stats.chiSquareVsBaseline" -> (later + ": StatsSpec"),
      "Multimodal.decodeImage" -> (later + ": MultimodalSpec"),
      "Multimodal.resize" -> (later + ": MultimodalSpec"),
      "TextRank.collectBm25Model" -> (later + ": EventStreamsSpec"),
      "Curation.collectDsirModel" -> (later + ": EventStreamsSpec"),
      "Curation.dsirScoredWithModel" -> (later + ": EventStreamsSpec"),
      "Curation.collectEvalShingles" -> (later + ": EventStreamsSpec"),
      "Curation.contaminationScoredWithModel" -> (later + ": EventStreamsSpec"),
      "Bpe.segmentStatsWithMerges" -> (later + ": EventStreamsSpec, BpeSpec"),
      "AudioOps.resampleSinc" -> (later + ": AudioSpec"))
  }

  private def scalaFiles(root: File): Seq[File] =
    if (root.isDirectory) root.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
    else if (root.getName.endsWith(".scala")) Seq(root)
    else Nil

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
  }

  private val template =
    """^(\s*)(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+|case\s+|implicit\s+)*(object|class|trait)\s+(\w+)""".r
  private val definition = """^(\s*)((?:[@\w\[\]]+\s+)*)def\s+([A-Za-z_]\w*)""".r
  private val token = """[A-Za-z_]\w*""".r

  /** `Object.def` for every public, non-override def declared directly
    * in an `object` whose name appears as a code token nowhere in the
    * scanned sources outside its own definition line. Membership is by
    * indentation (two spaces under the object), which the sources
    * follow throughout; comment lines are skipped. */
  private def unreferenced(root: File): Seq[String] = {
    val code = scalaFiles(root).map { f =>
      new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator.filterNot(isComment).toSeq
    }
    val uses = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (lines <- code; l <- lines; t <- token.findAllIn(l).toSet[String]) uses(t) += 1
    code.flatMap { lines =>
      var scopes = List.empty[(Int, String, String)] // (indent, kind, name), innermost first
      lines.flatMap { l =>
        template.findPrefixMatchOf(l) match {
          case Some(m) =>
            scopes = (m.group(1).length, m.group(2), m.group(3)) ::
              scopes.dropWhile(_._1 >= m.group(1).length)
            None
          case None => definition.findPrefixMatchOf(l).flatMap { m =>
            val indent = m.group(1).length
            scopes = scopes.dropWhile(_._1 >= indent)
            val modifiers = m.group(2)
            val member = scopes.headOption.filter(s => s._2 == "object" && indent == s._1 + 2)
            val name = m.group(3)
            // `uses` counts lines, and the def's own line is one of them
            if (member.isDefined && !modifiers.matches(""".*\b(private|protected|override)\b.*""") &&
                uses(name) <= 1) Some(s"${member.get._3}.$name")
            else None
          }
        }
      }
    }
  }

  /** Lines (1-based) of doc comments that open directly after another
    * comment's close, so the first documents nothing or the wrong
    * member. */
  private def orphanedDocs(root: File): Seq[String] =
    scalaFiles(root).flatMap { f =>
      val lines = new String(Files.readAllBytes(f.toPath), "UTF-8").linesIterator.toVector
      lines.indices.drop(1).collect {
        case i if lines(i).trim.startsWith("/**") && lines(i - 1).trim.endsWith("*/") =>
          s"${f.getPath}:${i + 1}"
      }
    }

  private val main = new File("src/main/scala/graft")

  test("every public object def is called from src/main or allowlisted with a reason") {
    assert(main.isDirectory, s"run from the project root (${main.getAbsolutePath})")
    val found = unreferenced(main)
    val extra = found.filterNot(allowed.contains)
    assert(extra.isEmpty, "public defs no src/main code calls — call, delete or allowlist them:\n" +
      extra.mkString("\n"))
    val stale = allowed.keySet.diff(found.toSet).toSeq.sorted
    assert(stale.isEmpty, "allowlisted defs that now have a caller or are gone:\n" +
      stale.mkString("\n"))
  }

  test("no doc comment in src/main is followed directly by another") {
    val found = orphanedDocs(main)
    assert(found.isEmpty, "move the interposed member above the first comment:\n" +
      found.mkString("\n"))
  }

  test("the scans flag the shapes they name and pass the others") {
    val dir = Files.createTempDirectory("surface-scan").toFile
    def write(src: String): Unit =
      Files.write(new File(dir, "Fixture.scala").toPath, src.getBytes("UTF-8"))
    try {
      write(
        """object A {
          |  def used(x: Int): Int = x
          |  def unused(y: Int): Int = used(y)
          |  private def hidden: Int = 1
          |  private[graft] def scoped: Int = 2
          |  override def toString: String = "a"
          |  // unusedToo in a line comment does not count
          |  def unusedToo: Int = 3
          |  object Inner {
          |    def nested: Int = 4
          |  }
          |  val q = (n: Int) => {
          |    def local: Int = n
          |    local
          |  }
          |}
          |class C {
          |  def member: Int = 5
          |}
          |""".stripMargin)
      assert(unreferenced(dir).toSet === Set("A.unused", "A.unusedToo", "Inner.nested"))
      write("  /** first */\n  /** second */\n  def f = 1\n  /** ok */\n  def g = 2\n")
      assert(orphanedDocs(dir).map(_.split(':').last) === Seq("2"))
    } finally { dir.listFiles().foreach(_.delete()); dir.delete() }
  }
}
