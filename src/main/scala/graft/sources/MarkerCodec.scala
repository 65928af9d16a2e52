package graft.sources

import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.core.io.JsonEOFException
import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The commit-marker format of snapshot tables (`_commits/<N>`): the
  * only record of which data entries a version holds. One typed value,
  * one JSON encoding, one decoder — nothing else reads or writes marker
  * bytes.
  *
  * A marker carries `formatVersion`. A reader accepts exactly
  * [[FormatVersion]] and fails fast on anything else (a newer writer's
  * marker, or one written before the codec existed) instead of guessing.
  * Bytes that end before the JSON object does — empty or truncated —
  * raise Jackson's [[JsonEOFException]]: that is a claim whose content
  * is still being written, and only that is retried by readers.
  */
private[graft] object MarkerCodec {

  val FormatVersion = 1

  /** One column's recorded range. `kind` is `l` (integral), `d`
    * (floating) or `s` (ASCII string); min/max stay strings so Long,
    * Double and ±Infinity round-trip exactly. */
  case class Bound(kind: String, min: String, max: String)

  /** One manifest entry: a data dir relative to `data/` (a staged uuid,
    * or `uuid/__gp=<v>` on partition-granular tables), its row count,
    * its column ranges, and its top-level column names in schema order. */
  case class Entry(dir: String, rows: Long, stats: Map[String, Bound],
                   cols: Seq[String])

  /** `lb` is the exactly-once ledger: the max streaming batch id at or
    * before this version. `batch` is this commit's own id, -1 = none.
    * (Plain Longs: `Option[Long]` decodes as a boxed Integer here.) */
  case class Marker(formatVersion: Int, parent: Long, lb: Long, batch: Long,
                    entries: Seq[Entry])

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)
    .build()

  private def validBound(b: Bound): Boolean = b.kind match {
    case "l" => b.min.toLongOption.isDefined && b.max.toLongOption.isDefined
    case "d" => Seq(b.min, b.max).forall(_.toDoubleOption.exists(!_.isNaN))
    case "s" => true
    case _ => false
  }

  private def badBound(m: Marker): Option[String] =
    m.entries.iterator.flatMap(e => e.stats.collectFirst {
      case (c, b) if !validBound(b) => s"entry ${e.dir} column $c bound $b"
    }).nextOption()

  /** UTF-8 JSON of `m`. Refuses a bound that is not of its kind — a NaN
    * floating bound above all, which would make the range meaningless. */
  def encode(m: Marker): Array[Byte] = {
    badBound(m).foreach(b =>
      throw new IllegalArgumentException(s"invalid marker bound: $b"))
    mapper.writeValueAsBytes(m)
  }

  /** Decode marker bytes. Throws [[JsonEOFException]] when the bytes
    * are empty or truncated, and IllegalArgumentException naming what
    * it found when they are complete but not a marker of this format. */
  def decode(bytes: Array[Byte]): Marker = {
    val m =
      try {
        val tree = mapper.readTree(bytes)
        if (tree.isMissingNode)
          throw new JsonEOFException(null, null, "empty commit marker")
        val found = Option(tree.get("formatVersion"))
        if (!found.exists(v => v.isInt && v.intValue == FormatVersion))
          throw new IllegalArgumentException(
            s"formatVersion ${found.fold("absent")(_.toString)} " +
              s"(this reader knows $FormatVersion)")
        mapper.treeToValue(tree, classOf[Marker])
      } catch {
        case e: JsonEOFException => throw e
        case e: JacksonException =>
          throw new IllegalArgumentException(e.getOriginalMessage, e)
      }
    badBound(m).foreach(b =>
      throw new IllegalArgumentException(s"invalid marker bound: $b"))
    m
  }
}
