package graft

import graft.multimodal.Multimodal
import graft.sources.BinarySource
import org.apache.spark.sql.functions.col

/** The multimodal codec table against the real sniffer: a fixture
  * entry's declared mime is what downstream dispatch trusts, so it
  * must be the mime its own payloads sniff to.
  */
class CodecTableSpec extends SparkSpec {

  test("every fixture codec: payloads sniff to the declared mime, carry the module checksum, and decode") {
    val fixtures = Multimodal.Codecs.all.filter(_.fixture.isDefined)
    assert(fixtures.size == 8)
    fixtures.foreach { c =>
      // width 1: the raw one-partition scan
      val rows = Multimodal.fixtureTable(spark, sf, 1, c).toDF()
        .select(col("payload"), col("meta.mime"), col("meta.n_bytes"),
          col("meta.checksum"),
          BinarySource.sniffMime(col("payload")).as("sniffed"))
        .collect()
      assert(rows.nonEmpty, c.mime)
      rows.foreach { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        assert(r.getAs[String]("mime") == c.mime)
        assert(r.getAs[String]("sniffed") == c.mime,
          s"${c.mime} fixture sniffs as ${r.getAs[String]("sniffed")}")
        assert(r.getAs[Long]("n_bytes") == payload.length.toLong)
        assert(r.getAs[Long]("checksum") ==
          Multimodal.payloadChecksum(payload), c.mime)
        assert(c.features(payload).isDefined,
          s"${c.mime} fixture must decode through its own entry")
      }
    }
  }
}
