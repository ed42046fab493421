package graft.pipeline

import com.fasterxml.jackson.core.{JsonProcessingException, StreamReadFeature}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import org.apache.hadoop.fs.{FileSystem, Path}

import scala.jdk.CollectionConverters._

/** The format of every durable record the program commits: one case class
  * per record, encoded in one place and, when read back, parsed by one
  * strict reader. [[Commit]] owns how the bytes become durable; this
  * module owns what they are. Encodings are fixed byte for byte (perfbench's
  * manifest regex, `spark.read.json(_manifests)` and existing outputs read
  * them). A record that is not one JSON object, or has a missing, mistyped,
  * unknown or duplicated field, throws IllegalArgumentException naming the
  * file, the field and the remedy; no field is defaulted.
  */
object Records {

  /** The `config` of bucket manifests and incremental markers; any other is refused. */
  val Config = "v1"

  /** A triples table's bucket function and partition depth; a resume must match it. */
  final case class Layout(nBuckets: Int, dayPartition: Boolean)

  /** `<output>/_manifests/bucket-<b>.json`: the commit point of one triples bucket. */
  final case class BucketManifest(bucket: Int, rows: Long, fingerprint: Long, layout: Layout) {
    def json: String = s"""{"bucket":$bucket,"rows":$rows,"fingerprint":$fingerprint,""" +
      s""""config":"$Config","n_buckets":${layout.nBuckets},"day_partition":${layout.dayPartition}}"""
  }
  object BucketManifest extends Reader[BucketManifest]("rebuild the graph into a fresh output " +
      "with graft.KgJob", "bucket", "rows", "fingerprint", "config", "n_buckets", "day_partition") {
    protected def from(r: Fields) =
      BucketManifest(r.int("bucket"), r.long("rows"), r.long("fingerprint"), r.layout)
  }

  /** `<linkstate>/_committed.json`: node count and applied-batch ledger. */
  final case class LinkStateMarker(nNodes: Long, applied: Seq[String]) {
    def json: String = s"""{"n_nodes":$nNodes,"applied":[${applied.map(quote).mkString(",")}]}"""
  }
  object LinkStateMarker extends Reader[LinkStateMarker]("re-run the full graft.KgJob to " +
      "rebuild the link state", "n_nodes", "applied") {
    protected def from(r: Fields) = LinkStateMarker(r.long("n_nodes"), r.strings("applied"))
  }

  /** `<checkpointDir>/iter-<k>.done.json`: a committed CC frontier and its node-set identity. */
  final case class CcMarker(iter: Int, changed: Long, converged: Boolean, nodes: Long, nodesFp: Long) {
    def json: String = s"""{"iter":$iter,"changed":$changed,"converged":$converged,""" +
      s""""nodes":$nodes,"nodes_fp":$nodesFp}"""
  }
  object CcMarker extends Reader[CcMarker]("delete the checkpoint directory (for a KgJob " +
      "output, `<output>/_cc_checkpoints`)", "iter", "changed", "converged", "nodes", "nodes_fp") {
    protected def from(r: Fields) = CcMarker(r.int("iter"), r.long("changed"),
      r.bool("converged"), r.long("nodes"), r.long("nodes_fp"))
  }

  /** `<output>/_incr/marker.json`: the one commit point of an incremental apply. */
  final case class IncrMarker(token: String, buckets: Seq[Int], layout: Layout) {
    def json: String = s"""{"token":${quote(token)},"buckets":[${buckets.mkString(",")}],""" +
      s""""n_buckets":${layout.nBuckets},"config":"$Config","day_partition":${layout.dayPartition}}"""
  }
  object IncrMarker extends Reader[IncrMarker]("finish the interrupted run with the release " +
      "that started it, or restore the output and rebuild it with the full graft.KgJob",
      "token", "buckets", "n_buckets", "config", "day_partition") {
    protected def from(r: Fields) = IncrMarker(r.string("token"), r.ints("buckets"), r.layout)
  }

  /** `<output>/_manifests/stream-resolved-batch-<id>.json`; only Spark reads it back. */
  final case class StreamManifest(batch: Long, rows: Long, fingerprint: Long, canonVersion: String) {
    def json: String = s"""{"batch":$batch,"rows":$rows,"fingerprint":$fingerprint,""" +
      s""""canon_version":${quote(canonVersion)}}"""
  }

  /** `<canonDir>/_canon_version`: a published canonical map's plain-text token. */
  final case class CanonVersion(rows: Long, fingerprint: Long) {
    def token: String = s"$rows-$fingerprint"
  }
  object CanonVersion {
    private val Token = """(\d+)-(-?\d+)""".r
    def parse(file: String, text: String): CanonVersion = (text match {
      case Token(rows, fp) => for (r <- rows.toLongOption; f <- fp.toLongOption) yield CanonVersion(r, f)
      case _ => None
    }).getOrElse(throw new IllegalArgumentException(
      s"$file: '$text' is not a <rows>-<fingerprint> token — re-publish the canonical map"))
    def read(f: FileSystem, path: Path): CanonVersion = parse(path.toString, Commit.read(f, path))
  }

  /** The one reader of a JSON record holding exactly `names`. */
  sealed abstract class Reader[R](remedy: String, names: String*) {
    protected def from(r: Fields): R
    def parse(file: String, json: String): R = from(new Fields(file, json, remedy, names))
    def read(f: FileSystem, path: Path): R = parse(path.toString, Commit.read(f, path))
  }

  private val Json = JsonMapper.builder()
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).build()

  private def quote(s: String): String = Json.writeValueAsString(s)

  /** One JSON object holding exactly `names`; each accessor throws for a missing or mistyped field. */
  final class Fields private[Records] (file: String, json: String, remedy: String, names: Seq[String]) {
    private def bad(what: String): Nothing = throw new IllegalArgumentException(s"$file: $what — $remedy")

    private val obj: JsonNode = {
      val n = try Json.readTree(json) catch {
        case e: JsonProcessingException => bad(s"not a JSON record (${e.getOriginalMessage})")
      }
      if (n == null || !n.isObject) bad("not a JSON object")
      val unknown = n.fieldNames.asScala.filterNot(names.contains).toSeq
      if (unknown.nonEmpty) bad(s"unknown field(s) ${unknown.mkString(", ")}")
      n
    }

    private def field(name: String, kind: String)(ok: JsonNode => Boolean): JsonNode =
      Option(obj.get(name)) match {
        case None => bad(s"missing field '$name'")
        case Some(v) => if (ok(v)) v else bad(s"field '$name' is not $kind: $v")
      }

    def int(name: String): Int = field(name, "an int")(_.isInt).intValue
    def long(name: String): Long = field(name, "a long")(v => v.isIntegralNumber && v.canConvertToLong).longValue
    def bool(name: String): Boolean = field(name, "a boolean")(_.isBoolean).booleanValue
    def string(name: String): String = field(name, "a string")(_.isTextual).textValue
    def ints(name: String): Seq[Int] = field(name, "an int array")(v =>
      v.isArray && v.asScala.forall(_.isInt)).asScala.map(_.intValue).toSeq
    def strings(name: String): Seq[String] = field(name, "a string array")(v =>
      v.isArray && v.asScala.forall(_.isTextual)).asScala.map(_.textValue).toSeq

    def layout: Layout =
      if (string("config") != Config) bad(s"field 'config' is ${obj.get("config")}, expected \"$Config\"")
      else Layout(int("n_buckets"), bool("day_partition"))
  }
}
