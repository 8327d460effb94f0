package perfbench

import java.awt.image.BufferedImage
import java.io.File
import javax.imageio.ImageIO

import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.types.BinaryType

/** The seeded image store: `<dir>/<igId>/<n>.png|jpg`, PNG and JPEG
  * alternating, with a skewed (Zipf-like) number of images per user so
  * one user group is much larger than the rest, plus one grayscale and
  * one undecodable file that the palette job must skip. Each user has a
  * few dominant colours with per-pixel noise, so KMeans has real
  * clusters to find. The same seed gives byte-identical files. */
object ImageGen {
  val Sizes: Seq[Int] = Seq(48, 64, 80)

  def userIds(n: Int): Seq[String] = (0 until n).map(i => (17841400000000000L + 1000L * i + 7).toString)

  /** Images per user: total `nImages` split by weight 1/(rank+1)^0.8. */
  def counts(nUsers: Int, nImages: Int): Seq[Int] = {
    val w = (0 until nUsers).map(i => 1.0 / math.pow(i + 1, 0.8))
    w.map(x => math.max(1, math.round(nImages * x / w.sum).toInt))
  }

  /** `ImageGen <dir> <seed> <users> <images>`: write a store on its own. */
  def main(args: Array[String]): Unit =
    generate(args(0), args(1).toLong, args(2).toInt, args(3).toInt)

  def generate(dir: String, seed: Long, nUsers: Int, nImages: Int): Unit = {
    val rng = new java.util.SplittableRandom(seed * 7919L + 17)
    userIds(nUsers).zip(counts(nUsers, nImages)).foreach { case (uid, n) =>
      val palette = Array.fill(3 + rng.nextInt(3))(Array.fill(3)(rng.nextInt(256)))
      (0 until n).foreach { k =>
        val side = Sizes(rng.nextInt(Sizes.size))
        val img = new BufferedImage(side, side, BufferedImage.TYPE_3BYTE_BGR)
        var by = 0
        while (by < side) {
          var bx = 0
          while (bx < side) {
            val c = palette(rng.nextInt(palette.length))
            var y = by
            while (y < math.min(by + 8, side)) {
              var x = bx
              while (x < math.min(bx + 8, side)) {
                def ch(v: Int) = math.max(0, math.min(255, v + rng.nextInt(25) - 12))
                img.setRGB(x, y, (ch(c(0)) << 16) | (ch(c(1)) << 8) | ch(c(2)))
                x += 1
              }
              y += 1
            }
            bx += 8
          }
          by += 8
        }
        val fmt = if (k % 2 == 0) "png" else "jpg"
        val f = new File(s"$dir/$uid/$k.$fmt")
        f.getParentFile.mkdirs()
        require(ImageIO.write(img, fmt, f), s"no ImageIO writer for $fmt")
      }
    }
    // the two files the job must skip, in the first (largest) user's folder
    val first = userIds(nUsers).head
    val gray = new BufferedImage(32, 32, BufferedImage.TYPE_BYTE_GRAY)
    (0 until 32).foreach(y => (0 until 32).foreach(x => gray.getRaster.setSample(x, y, 0, (x * 8) & 0xFF)))
    require(ImageIO.write(gray, "png", new File(s"$dir/$first/gray.png")))
    val junk = Array.tabulate[Byte](512)(i => ((i * 31 + seed) & 0xFF).toByte)
    java.nio.file.Files.write(new File(s"$dir/$first/corrupt.jpg").toPath,
      "not an image\n".getBytes("UTF-8") ++ junk)
  }
}

/** Driver-local palette oracle: decodes every file with ImageIO exactly
  * as Spark's image source does (8-bit BGR; grayscale, alpha and
  * undecodable files are not mode 16 and are skipped), orders each user's
  * images as `Palette.paletteFromImages` does (byte length, then Spark's
  * `hash`), and runs the engine's `Palette.paletteOfDecoded` kernel on
  * the driver. */
object PaletteCheck {
  private def decodeBgr(f: File): Option[(Int, Int, Array[Byte])] = {
    val img = try ImageIO.read(f) catch { case _: Throwable => null }
    if (img == null) None
    else {
      val cm = img.getColorModel
      if (cm.getColorSpace.getType == java.awt.color.ColorSpace.TYPE_GRAY || cm.hasAlpha) None
      else {
        val (h, w) = (img.getHeight, img.getWidth)
        val out = new Array[Byte](h * w * 3)
        var o = 0
        for (y <- 0 until h; x <- 0 until w) {
          val rgb = img.getRGB(x, y)
          out(o) = (rgb & 0xFF).toByte
          out(o + 1) = ((rgb >> 8) & 0xFF).toByte
          out(o + 2) = ((rgb >> 16) & 0xFF).toByte
          o += 3
        }
        Some((h, w, out))
      }
    }
  }

  /** Expected `igId -> colors` JSON for every user with a decodable
    * colour image. */
  def expected(dir: String, maxTriples: Int): Map[String, String] = {
    val users = Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).filter(_.isDirectory)
    users.flatMap { u =>
      val imgs = u.listFiles().filter(_.isFile).flatMap(decodeBgr).sortBy { case (_, _, d) =>
        (d.length, Murmur3HashFunction.hash(d, BinaryType, 42L).toInt)
      }
      if (imgs.isEmpty) None
      else Some(u.getName -> graft.enrich.Palette.paletteJson(
        graft.enrich.Palette.paletteOfDecoded(imgs.iterator, maxTriples)))
    }.toMap
  }
}
