package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.pipeline.Records._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The durable record formats: encodings are pinned to the exact bytes
  * earlier releases wrote (golden strings), every record the program
  * reads back round-trips, and the strict reader refuses anything else,
  * naming the file and the field.
  */
class RecordsSpec extends AnyFunSuite {

  private val layout = Layout(8, dayPartition = false)
  private val token = "v2-b12-00000000deadbeef"

  test("encodings are byte-identical to the committed formats") {
    assert(BucketManifest(3, 10L, -5L, layout).json ==
      """{"bucket":3,"rows":10,"fingerprint":-5,"config":"v1","n_buckets":8,"day_partition":false}""")
    assert(LinkStateMarker(7L, Seq(token, "v2-b1-0000000000000001")).json ==
      """{"n_nodes":7,"applied":["v2-b12-00000000deadbeef","v2-b1-0000000000000001"]}""")
    assert(LinkStateMarker(0L, Nil).json == """{"n_nodes":0,"applied":[]}""")
    assert(CcMarker(2, 0L, converged = true, 1200L, -42L).json ==
      """{"iter":2,"changed":0,"converged":true,"nodes":1200,"nodes_fp":-42}""")
    assert(IncrMarker(token, Seq(1, 5), Layout(16, dayPartition = true)).json ==
      """{"token":"v2-b12-00000000deadbeef","buckets":[1,5],"n_buckets":16,"config":"v1","day_partition":true}""")
    assert(IncrMarker(token, Nil, layout).json ==
      """{"token":"v2-b12-00000000deadbeef","buckets":[],"n_buckets":8,"config":"v1","day_partition":false}""")
    assert(StreamManifest(4L, 17L, -3L, "12-99").json ==
      """{"batch":4,"rows":17,"fingerprint":-3,"canon_version":"12-99"}""")
    assert(CanonVersion(12L, -99L).token == "12--99")
  }

  /** Every JSON record kind the program reads back, with its reader. */
  private val samples: Seq[(Reader[_], Product)] = Seq(
    BucketManifest -> BucketManifest(0, Long.MaxValue, Long.MinValue, Layout(1, dayPartition = true)),
    BucketManifest -> BucketManifest(3, 0L, 0L, layout),
    LinkStateMarker -> LinkStateMarker(3L, Seq(token)),
    LinkStateMarker -> LinkStateMarker(0L, Nil),
    CcMarker -> CcMarker(Int.MaxValue, -1L, converged = false, 0L, Long.MinValue),
    IncrMarker -> IncrMarker(token, Seq(0, 7, 255), Layout(256, dayPartition = false)),
    IncrMarker -> IncrMarker(token, Nil, layout))

  private def encode(r: Product): String = r match {
    case m: BucketManifest => m.json
    case m: LinkStateMarker => m.json
    case m: CcMarker => m.json
    case m: IncrMarker => m.json
  }

  test("parse(encode(r)) == r for every record the program reads back") {
    for ((reader, r) <- samples)
      assert(reader.parse("f.json", encode(r)) == r, encode(r))
    for (v <- Seq(CanonVersion(0L, 0L), CanonVersion(Long.MaxValue, Long.MinValue)))
      assert(CanonVersion.parse("_canon_version", v.token) == v, v.token)
  }

  private def refused(reader: Reader[_], text: String): String = refusedBy(reader.parse(_, text))

  private def refusedBy(parse: String => Any, file: String = "/out/_manifests/x.json"): String = {
    val e = intercept[IllegalArgumentException](parse(file))
    assert(e.getMessage.contains(file), e.getMessage)
    e.getMessage
  }

  private val mapper = new ObjectMapper()

  test("a missing field is refused, naming the file and the field") {
    for ((reader, r) <- samples) {
      val json = encode(r)
      for (name <- mapper.readTree(json).fieldNames.asScala.toSeq) {
        val without = mapper.readTree(json).asInstanceOf[ObjectNode]
        without.remove(name)
        val msg = refused(reader, without.toString)
        assert(msg.contains(s"missing field '$name'"), msg)
      }
    }
  }

  test("mistyped, unknown and duplicated fields are refused") {
    val ok = BucketManifest(3, 10L, -5L, layout).json
    def m(from: String, to: String) = { assert(ok.contains(from)); ok.replace(from, to) }
    assert(refused(BucketManifest, m("\"rows\":10", "\"rows\":\"10\"")).contains("'rows'"))
    assert(refused(BucketManifest, m("\"n_buckets\":8", "\"n_buckets\":8.0")).contains("'n_buckets'"))
    assert(refused(BucketManifest, m("\"bucket\":3", "\"bucket\":3000000000")).contains("'bucket'"))
    assert(refused(BucketManifest, m("\"day_partition\":false", "\"day_partition\":\"false\""))
      .contains("'day_partition'"))
    assert(refused(BucketManifest, m("\"config\":\"v1\"", "\"config\":\"v2\"")).contains("'config'"))
    assert(refused(BucketManifest, m("}", ",\"format\":2}")).contains("format"))
    refused(BucketManifest, m("}", ",\"rows\":11}"))
    assert(refused(LinkStateMarker, """{"n_nodes":1,"applied":[1]}""").contains("'applied'"))
    assert(refused(IncrMarker, IncrMarker(token, Seq(1), layout).json.replace("[1]", "[\"1\"]"))
      .contains("'buckets'"))
    assert(refused(CcMarker, CcMarker(1, 0L, converged = true, 1L, 1L).json
      .replace("true", "1")).contains("'converged'"))
  }

  test("text that is not one JSON object, or not a canon version token, is refused") {
    for (text <- Seq("", "{", "[]", "null", """{"n_nodes":1,"applied":[]} {}"""))
      refused(LinkStateMarker, text)
    for (text <- Seq("", "12", "12-", "-1-5", "12-99\n", "absent", "12-99999999999999999999"))
      refusedBy(CanonVersion.parse(_, text), "/canon/_canon_version")
  }
}
