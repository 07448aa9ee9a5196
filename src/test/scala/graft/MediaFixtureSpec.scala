package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{MediaKind, MediaRow}

/** Golden digests of the six media fixture generators. A media fixture
  * persists by name only and a plan dump shows only its parquet read,
  * so a generator change would otherwise reach the oracle only on a
  * fresh dataset. Each digest is the sha256 of the kind's rows over a
  * fixed doc_id list, sorted by media_id, serialized as (media_id,
  * kind, width, height, content length, content).
  */
class MediaFixtureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val DocIds = (0L to 41L) ++ Seq(997L, 1000L, 12345L, 99998L, 99999L)

  private val Golden: Map[MediaKind, (Int, String)] = Map(
    MediaKind.ImgReal -> (23 -> "3c9f3aa1a2b2c9ded011308970abf0724c0dfba9d88c42b51b955ba97b121aeb"),
    MediaKind.ImgDup -> (23 -> "599c00f91501d131bc324266fe3d2e6bf40e9d44218eb542ad286a2ac25cc6ab"),
    MediaKind.AudioReal -> (24 -> "593e81cd103bdca2a4334a531a610e1503304a4d135245707f30ec06a2e692ba"),
    MediaKind.AudioDup -> (24 -> "cdf13799743791a075d21a051403c8daf1d2bff7d61fbe04f11a8ef83367aaf5"),
    MediaKind.VideoReal -> (24 -> "9cc742acd732469ed09ef12220a87ee8dfd1857e6ee31cb5cd67cfb992c65240"),
    MediaKind.VideoDup -> (24 -> "c07b50ba2f6ea509cc63f460b4042ffa735fc427cd16ff5b81141ced85bfad1c"))

  private def digest(rows: Seq[MediaRow]): String = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    rows.sortBy(_.media_id).foreach { r =>
      out.writeLong(r.media_id); out.writeUTF(r.kind)
      out.writeInt(r.width); out.writeInt(r.height)
      out.writeInt(r.content.length); out.write(r.content)
    }
    out.flush()
    java.security.MessageDigest.getInstance("SHA-256").digest(bos.toByteArray)
      .map("%02x".format(_)).mkString
  }

  test("media fixture generators: golden sha256 of every kind's rows") {
    val s = spark
    import s.implicits._
    val docs = DocIds.toDF("doc_id")
    assert(MediaKind.all.map(_.name) ==
      Seq("img_real", "img_dup", "audio_real", "audio_dup", "video_real", "video_dup"))
    MediaKind.all.foreach { kind =>
      val rows = Multimodal.media(docs, kind).collect().toSeq
      assert((rows.size, digest(rows)) == Golden(kind), kind.name)
    }
  }
}
