package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each media modality decodes in one place: only the producers below
  * take a payload frame (`Dataset[MediaRow]` / `Dataset[AudioRow]`);
  * every other media door reads the decoded profile they emit. The
  * payload transforms, the fixture renderers and the streaming ingest
  * gates take payloads too and are exempt.
  */
class DecodeOnceSpec extends AnyFunSuite {

  private val producers = Set(
    "MultimodalOps.imageProfile", "AudioOps.audioProfile",
    "AudioOps.extractAudioFeatures", "AudioOps.envelopes",
    "VideoOps.videoFrameProfiles", "VideoOps.videoMeta",
    "VideoOps.frameSample")

  private val exempt = Set(
    "MultimodalOps.resize", "AudioOps.gainVariants", "AudioOps.resample",
    "AudioOps.normalizeGain", "StreamingOps.imageDupDocStream",
    "StreamingOps.audioDupDocStream", "StreamingOps.videoDupDocStream")

  private val payloadParam =
    """:\s*(?:org\.apache\.spark\.sql\.)?Dataset\[\s*(?:[\w.]+\.)?(?:MediaRow|AudioRow)\s*\]""".r

  /** The text of a method's parameter lists: the balanced `(...)`
    * groups after its name (and any type parameters).
    */
  private def paramLists(src: String, from: Int): String = {
    var i = from
    def skipSpace(): Unit = while (i < src.length && src(i).isWhitespace) i += 1
    // advance past the balanced group opening at i
    def group(open: Char, close: Char): Unit = {
      var depth = 0
      do {
        if (src(i) == open) depth += 1 else if (src(i) == close) depth -= 1
        i += 1
      } while (i < src.length && depth > 0)
    }
    skipSpace()
    if (i < src.length && src(i) == '[') { group('[', ']'); skipSpace() }
    val out = new StringBuilder
    while (i < src.length && src(i) == '(') {
      val start = i
      group('(', ')')
      out ++= src.substring(start, i)
      skipSpace()
    }
    out.toString
  }

  test("only the profile producers take a Dataset[MediaRow] or Dataset[AudioRow]") {
    val defs = """\bdef\s+(\w+)""".r
    val offenders = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(Files.readAllBytes(p), "UTF-8")
        val obj = p.getFileName.toString.stripSuffix(".scala")
        defs.findAllMatchIn(src).collect {
          case m if payloadParam.findFirstIn(paramLists(src, m.end)).isDefined &&
              !producers(s"$obj.${m.group(1)}") &&
              !exempt(s"$obj.${m.group(1)}") &&
              !m.group(1).startsWith("synthetic") => s"$obj.${m.group(1)}"
        }
      }.toList
    assert(offenders.isEmpty,
      offenders.mkString("decode-inside media doors:\n", "\n", ""))
  }
}
