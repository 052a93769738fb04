package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The library's public surface is what its traffic reaches: the
  * registry, the mains and the perfbench workloads. An object-level
  * public `def` in src/main must be named in another source file of
  * src/main or perfbench/src, or be called from code its own file
  * generates (a string literal that is `"name"` or holds `.name(`),
  * unless [[SurfaceSpec.Allowed]] lists it with its reason. The check goes by
  * name, so a common name passes without a real caller: lenient, never
  * flaky. */
class SurfaceSpec extends AnyFunSuite {
  import SurfaceSpec._

  /** (path, text) of every Scala source under `dir`. */
  private def sources(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"missing $root")
    Files.walk(root).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
  }

  private val topLevel =
    """^(?:(?:final|sealed|abstract|private|case|implicit)\s+)*(object|class|trait)\s+(\w+)""".r
  private val objectDef = """^  (?:(?:final|implicit)\s+)*def\s+(\w+)""".r

  /** (file, object, def) for every object-level public def in `src`. */
  private def publicDefs(file: String, src: String)
      : Seq[(String, String, String)] = {
    var owner: Option[String] = None
    src.linesIterator.flatMap { line =>
      topLevel.findPrefixMatchOf(line) match {
        case Some(m) =>
          owner = if (m.group(1) == "object") Some(m.group(2)) else None
          None
        case None => for {
          o <- owner
          d <- objectDef.findPrefixMatchOf(line)
        } yield (file, o, d.group(1))
      }
    }.toSeq
  }

  test("every public object def in src/main is reached by name, or allowed") {
    val main = sources("src/main/scala")
    val all = main ++ sources("perfbench/src")
    val unreached = main.flatMap { case (f, src) => publicDefs(f, src) }
      .filterNot { case (f, o, d) =>
        val name = java.util.regex.Pattern.quote(d)
        val word = s"\\b$name\\b".r
        val generated = s""""$name"|"[^"\\n]*\\.$name\\([^"\\n]*"""".r
        Allowed.contains(s"$o.$d") ||
          all.exists { case (g, text) => g != f && word.findFirstIn(text).isDefined } ||
          all.exists { case (g, text) => g == f && generated.findFirstIn(text).isDefined }
      }
      .map { case (f, o, d) => s"$o.$d ($f)" }.distinct
    assert(unreached.isEmpty,
      s"public defs that only tests reach: ${unreached.mkString(", ")}")
  }

  test("every allowlist entry still names a def") {
    val main = sources("src/main/scala")
    val stale = Allowed.keys.filterNot { key =>
      val Array(o, d) = key.split('.')
      main.exists { case (_, src) =>
        s"""\\b(?:object|class)\\s+$o\\b""".r.findFirstIn(src).isDefined &&
          s"""\\bdef\\s+$d\\b""".r.findFirstIn(src).isDefined
      }
    }
    assert(stale.isEmpty, s"allowlist entries with no def: $stale")
  }
}

object SurfaceSpec {
  private val PaperStage = "paper stage that no workload reaches yet"
  private val Reference = "reference that tests compare the served path against"
  private val Encoder = "encoder that decoder tests use to build inputs"

  /** `Owner.def` → why it stays without a caller in src/main or
    * perfbench. */
  val Allowed: Map[String, String] = Map(
    "Enrich.unenrichedGames" -> s"$PaperStage (opening backfill, P5)",
    "Enrich.scrapeTags" -> s"$PaperStage (opening backfill, F9)",
    "Enrich.applyOpeningBackfill" -> s"$PaperStage (opening backfill, S8)",
    "ReadApi.gamesWithProfiles" -> s"$PaperStage (J4, the API's games-to-profiles join)",
    "Cleaning.needsFix" -> s"$PaperStage (the P4 revalidation gate)",
    "Upsert.firstWriteWins" -> s"$PaperStage (S9 insert-if-absent)",
    "JdbcSink.upsert" -> s"$PaperStage (S8 database sink)",
    "JdbcSink.insertIfAbsent" -> s"$PaperStage (S9 database sink)",
    "Dedup.jaccardPairs" -> s"$Reference (exact Jaccard pairs)",
    "Dedup.minhashSignatures" -> s"$Reference (per-document signatures)",
    "Dedup.lshCandidates" -> s"$Reference (LSH candidate pairs)",
    "Bpe.tokensComposable" -> s"$Reference (the BPE kernel's replace chain)",
    "Similarity.reassignIndex" -> s"$Reference (frozen-centroid IVF rebuild)",
    "Dedup.requireUniqueIds" -> "precondition guard for dedup inputs",
    "AudioCodec.linearToMuLaw" -> Encoder,
    "AudioCodec.linearToALaw" -> Encoder,
    "AudioCodec.encodeWavG711" -> Encoder,
    "PixelCodec.encodeSubBytePng" -> Encoder,
    "Verify.main" -> "entry point",
    "Bench.main" -> "entry point",
    "Stress.main" -> "entry point",
    "Dev.main" -> "entry point",
    "GraftFunctions.registerAll" -> "entry point: SQL functions on a live session",
    "GraftExtensions.apply" -> "entry point: spark.sql.extensions injector",
    "SparkEntry.moduleQueryNames" -> "entry point: the registry's names per module")
}
