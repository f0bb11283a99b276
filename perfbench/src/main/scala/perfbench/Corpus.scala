package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded Play-Store corpus in the `graft.SynthPlayStore` shape: one
  * high-cardinality `developerId` whose display columns are functionally
  * dependent on it, every other grouping column low-cardinality after the
  * reference bucketing, and ~2 % of rows outside the cleaning ranges.
  * Unlike `SynthPlayStore` (fixed seed 42) the seed is an argument; one
  * (rows, developers, seed) triple always yields byte-identical output.
  *
  * Usage: Corpus <out.csv> <rows> <developers> <seed>
  */
object Corpus {
  val header: String = "_c0,appId,developer,developerId,developerWebsite,free,genre," +
    "genreId,minInstalls,offersIAP,originalPrice,price,ratings," +
    "len screenshots,adSupported,containsAds,reviews,score,releasedYear\n"

  def write(path: Path, rows: Int, developers: Int, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed)
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 20)
    val sb = new java.lang.StringBuilder(256)
    def b(pct: Int): String = if (rnd.nextInt(100) < pct) "True" else "False"
    out.write(header.getBytes(UTF_8))
    var i = 0
    while (i < rows) {
      val dev = rnd.nextInt(developers)
      val genre = rnd.nextInt(50)
      val dirty = rnd.nextInt(100) < 2
      val minInstalls = math.pow(10, rnd.nextInt(8)).toLong * (1 + rnd.nextInt(9))
      val price = if (rnd.nextInt(10) < 8) 0 else 1 + rnd.nextInt(499)
      sb.setLength(0)
      sb.append(i).append(",com.app.a").append(i)
        .append(",Developer_").append(dev).append(",dev").append(dev).append(',')
      // website nulls depend on the id, so id → value stays functional
      if (dev % 7 != 0) sb.append("http://dev").append(dev).append(".example.com")
      sb.append(',').append(b(80))
        .append(",Genre_").append(genre).append(",GENRE").append(genre)
        .append(',').append(minInstalls).append(',').append(b(30))
        .append(',').append(price).append(',').append(price)
        .append(',').append(if (dirty && rnd.nextBoolean()) 200 else rnd.nextInt(101))
        .append(',').append(rnd.nextInt(31))
        .append(',').append(b(60)).append(',').append(b(55))
        .append(',').append(rnd.nextInt(5000000))
        .append(',').append(rnd.nextInt(50) / 10.0)
        .append(',').append(if (dirty) 1950 else 1990 + rnd.nextInt(34))
        .append('\n')
      out.write(sb.toString.getBytes(UTF_8))
      i += 1
    }
    out.close()
  }

  def sha256(path: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(path)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 4) {
      System.err.println("usage: Corpus <out.csv> <rows> <developers> <seed>")
      sys.exit(2)
    }
    val path = Paths.get(args(0))
    write(path, args(1).toInt, args(2).toInt, args(3).toLong)
    println(s"""{"path":"${args(0)}","bytes":${Files.size(path)},"sha256":"${sha256(path)}"}""")
  }
}
