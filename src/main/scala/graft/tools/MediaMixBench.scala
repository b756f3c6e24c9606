package graft.tools

import graft.GraftSession
import graft.llmops.Multimodal
import org.apache.spark.sql.functions._

/** Evidence harness for the lossy-VP8 (and AVIF/HEIC) decode stance:
  * instead of narrating "most WebP is lossy so the stub matters",
  * MEASURE what the stub costs the visual near-dup lanes on a
  * realistic 2024-web-like image-format mix, and what the
  * decode-coverage gauge shows for the same corpus (the LmBench
  * "implement or measure" precedent — BASELINE.md records the table).
  *
  * Method: `pairs` synthetic 64×64 images (deterministic gradient +
  * rectangle content seeded by index), each planted as a NEAR-DUP PAIR:
  * the original encoded as PNG, the twin RE-ENCODED into a format drawn
  * from the mix — jpeg/png/gif/bmp re-encodes decode for real
  * (javax.imageio), `webp-lossy` and `avif` twins carry real container
  * headers but no decodable payload (the engine's stated stubs), so the
  * measured recall loss is EXACTLY the stub's cost, not a hash
  * weakness. Recall = planted pairs recovered by the production pHash
  * banding lane ([[Multimodal.imagePHashPairs]]) at Hamming ≤ 7 (the
  * banded guarantee).
  *
  * Mix (approximate public Web Almanac 2024 image-format shares,
  * renormalized over raster formats; webp split ~90/10 lossy/lossless
  * with the lossless slice REPRESENTED BY PNG twins — the engine
  * decodes VP8L for real and the WebpSpec pins PNG-twin hash parity,
  * so a VP8L twin behaves exactly like a PNG twin in this lane):
  * jpeg 42%, png 27% (incl. the VP8L-equivalent slice), gif 14%,
  * bmp 3%, webp-lossy 12%, avif 2%.
  *
  * Run: sbt 'runMain graft.tools.MediaMixBench [pairs]'
  */
object MediaMixBench {

  private val Mix: Seq[(String, Int)] = Seq( // cumulative percent
    "jpeg" -> 42, "png" -> 69, "gif" -> 83, "bmp" -> 86,
    "webp-lossy" -> 98, "avif" -> 100)

  private def twinFormat(i: Int): String = {
    val p = (i * 37) % 100
    Mix.collectFirst { case (f, c) if p < c => f }.get
  }

  /** Deterministic synthetic image: a two-axis gradient with a seeded
    * solid rectangle — enough structure for a stable pHash.
    */
  private def image(seed: Int): java.awt.image.BufferedImage = {
    val im = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rx = 8 + (seed * 13) % 32
    val ry = 8 + (seed * 29) % 32
    val rw = 8 + (seed * 7) % 16
    val rc = 0x404040 + (seed * 2654435761L.toInt & 0x7f7f7f)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val inRect = x >= rx && x < rx + rw && y >= ry && y < ry + rw
        val v =
          if (inRect) rc
          else ((x * 4) << 16) | ((y * 4) << 8) | ((x + y) * 2 & 0xff)
        im.setRGB(x, y, v)
        x += 1
      }
      y += 1
    }
    im
  }

  private def enc(im: java.awt.image.BufferedImage,
      format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, format, bos)
    bos.toByteArray
  }

  /** An undecodable-by-stated-scope twin: the real container magic (so
    * detectKind routes it to its own kind) with junk payload.
    */
  private def stubTwin(format: String): Array[Byte] = format match {
    case "webp-lossy" =>
      "RIFF".getBytes("ISO-8859-1") ++ Array[Byte](24, 0, 0, 0) ++
        "WEBPVP8 ".getBytes("ISO-8859-1") ++ Array.fill[Byte](16)(0x55)
    case "avif" =>
      Array[Byte](0, 0, 0, 16) ++ "ftypavif".getBytes("ISO-8859-1") ++
        Array[Byte](0, 0, 0, 0)
    case other => sys.error(s"not a stub format: $other")
  }

  def main(args: Array[String]): Unit = {
    val pairs = if (args.nonEmpty) args(0).toInt else 2000
    val spark = GraftSession.builder().getOrCreate()
    import spark.implicits._
    val rows = (0 until pairs).flatMap { i =>
      val im = image(i)
      val fmt = twinFormat(i)
      val orig = (2L * i, "image", enc(im, "png"), fmt)
      val twin = fmt match {
        case "webp-lossy" | "avif" => (2L * i + 1, "image", stubTwin(fmt), fmt)
        case f => (2L * i + 1, "image", enc(im, f), fmt)
      }
      Seq(orig, twin)
    }
    val media = rows.toDF("media_id", "kind", "payload", "twin_format")
      .repartition(32).cache()
    // the gauge: what fraction of each DETECTED kind is stubbed
    val cov = Multimodal.decodeCoverage(media.select("media_id", "payload"))
      .orderBy("kind").collect()
    println("decode coverage (kind, n, n_decoded, stub_ppm):")
    cov.foreach(r => println(s"  ${r.getString(0)} ${r.getLong(1)} " +
      s"${r.getLong(2)} ${r.getAs[Long]("stub_ppm")}"))
    // the production near-dup lane at a generous threshold
    val found = Multimodal.imagePHashPairs(media, maxHamming = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val byFmt = (0 until pairs).groupBy(twinFormat)
    println("planted-pair recall by twin format (the stub's measured cost):")
    val lines = byFmt.toSeq.sortBy(_._1).map { case (fmt, is) =>
      val hit = is.count(i => found.contains((2L * i, 2L * i + 1)))
      val pct = 10000L * hit / is.size
      println(f"  $fmt%-12s ${is.size}%5d pairs  recall ${pct / 100.0}%.2f%%")
      fmt -> (is.size, hit)
    }
    val tot = lines.map(_._2._1).sum
    val hitTot = lines.map(_._2._2).sum
    val undecodable = byFmt.filterKeys(f => f == "webp-lossy" || f == "avif")
      .values.map(_.size).sum
    println(f"overall: $hitTot/$tot recovered = ${100.0 * hitTot / tot}%.2f%% " +
      f"(undecodable-twin share ${100.0 * undecodable / tot}%.2f%%)")
    spark.stop()
  }
}
