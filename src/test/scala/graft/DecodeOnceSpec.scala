package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each media modality decodes in one place, batch and stream: only
  * the producers below take a payload frame (`Dataset[MediaRow]` /
  * `Dataset[AudioRow]`), and only their row functions call a payload
  * decoder; every other media door reads the decoded profile they
  * emit. The payload transforms and the fixture renderers take
  * payloads too and are exempt; a door that takes payloads and calls
  * a row function (the streaming ingest gates) decodes through the
  * producer.
  */
class DecodeOnceSpec extends AnyFunSuite {

  private val producers = Set(
    "MultimodalOps.imageProfile", "AudioOps.audioProfile",
    "VideoOps.videoFrameProfiles", "VideoOps.videoMeta")

  private val rowFunctions = Set("MultimodalOps.imageProfileRow",
    "AudioOps.audioProfileRow", "VideoOps.videoFrameProfileRows")

  private val transforms = Set(
    "MultimodalOps.resize", "AudioOps.gainVariants", "AudioOps.resample",
    "AudioOps.normalizeGain")

  private val payloadParam =
    """:\s*(?:org\.apache\.spark\.sql\.)?Dataset\[\s*(?:[\w.]+\.)?(?:MediaRow|AudioRow)\s*\]""".r

  private val rowCall =
    rowFunctions.map(_.split('.')(1)).mkString("""\b(?:""", "|", """)\b""").r

  private val decoderCall =
    """(?<!def )\b(decodeWav|decodeAvi|decodeMp4Meta|readImageBounded)\b""".r

  /** A member of a top-level object: its declaration sits at two
    * spaces of indentation.
    */
  private val memberDecl =
    """(?m)^  (?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|override\s+|implicit\s+)*(?:def|val|var|lazy\s+val|class|case\s+class|object|trait)\s+(\w+)""".r

  /** Scaladoc / block comments that open a line, and line comments. */
  private def stripComments(src: String): String =
    src.replaceAll("""(?ms)^\s*/\*.*?\*/""", "")
      .replaceAll("""(?m)(^|\s)//[^\n]*""", "$1")

  /** Every member under src/main as (Object.member, its source text). */
  private lazy val members: Seq[(String, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val src = stripComments(new String(Files.readAllBytes(p), "UTF-8"))
        val obj = p.getFileName.toString.stripSuffix(".scala")
        val decls = memberDecl.findAllMatchIn(src).toSeq
        decls.zip(decls.drop(1).map(_.start) :+ src.length).map {
          case (m, end) => (s"$obj.${m.group(1)}", src.substring(m.start, end))
        }
      }

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
    val offenders = members.flatMap { case (member, body) =>
      val obj = member.split('.')(0)
      defs.findAllMatchIn(body).collect {
        case m if payloadParam.findFirstIn(paramLists(body, m.end)).isDefined &&
            !producers(s"$obj.${m.group(1)}") &&
            !transforms(s"$obj.${m.group(1)}") &&
            !m.group(1).startsWith("synthetic") &&
            rowCall.findFirstIn(body).isEmpty => s"$obj.${m.group(1)}"
      }
    }
    assert(offenders.isEmpty,
      offenders.mkString("decode-inside media doors:\n", "\n", ""))
  }

  test("payload decoders are called only by the producers' row functions, " +
      "videoMeta and the payload transforms") {
    val allowed = rowFunctions ++ transforms + "VideoOps.videoMeta"
    val offenders = members.collect {
      case (member, body) if !allowed(member) &&
          decoderCall.findFirstIn(body).isDefined =>
        s"$member calls " + decoderCall.findAllMatchIn(body)
          .map(_.group(1)).toSeq.distinct.mkString(", ")
    }
    assert(offenders.isEmpty,
      offenders.mkString("payload decodes outside the producers:\n", "\n", ""))
  }
}
