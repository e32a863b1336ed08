package catbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Base64

import scala.collection.immutable.SortedMap
import scala.util.Random

/** A seeded File-Based Catalog (FBC): the structured model, its JSONL
  * rendering, the mutations a refresh cycle applies, and the answers
  * every catalog route must give for a version.
  *
  * Everything is a pure function of the seed, so a seed names the same
  * source bytes on every machine.
  */
object FbcGen {

  final case class Shape(packages: Int, maxBundles: Int, zipf: Double,
      iconShare: Double, globals: Int)

  /** More package directories than Spark's 32-path threshold, so every
    * snapshot open lists them with a parallel listing job; small enough
    * that a full republish fits in a refresh cycle. */
  val RefreshShape = Shape(packages = 36, maxBundles = 20, zipf = 0.9,
    iconShare = 0.8, globals = 4)

  final case class Icon(mediatype: String, data: Array[Byte])
  final case class Channel(name: String, head: Int)
  final case class Pkg(name: String, icon: Option[Icon],
      channels: Vector[Channel], versions: Vector[Int])
  final case class Global(schema: String, name: String)
  final case class Catalog(pkgs: SortedMap[String, Pkg],
      globals: Vector[Global])

  /** One meta record with its derived partition key. */
  final case class Rec(key: String, schema: String, name: String,
      blob: String)

  val SchemaPackage = "olm.package"
  val SchemaChannel = "olm.channel"
  val SchemaBundle = "olm.bundle"
  val GlobalKey = "__global"

  private val Words = Vector("amber", "basalt", "cedar", "delta", "ember",
    "fjord", "garnet", "harbor", "iris", "juniper", "krypton", "lagoon",
    "meadow", "nimbus", "onyx", "prairie", "quartz", "raven", "sierra",
    "tundra", "umber", "vertex", "willow", "xenon", "yarrow", "zephyr")
  private val ChannelNames = Vector("stable", "fast", "candidate")
  private val Mediatypes = Vector("image/svg+xml", "image/png")
  private val IconBytes = 2048

  private def packageName(word: String, i: Int): String =
    f"$word-operator-$i%03d"

  /** A package's shape depends on its index alone, so every seed yields
    * the same number of icons, channels and bundles; the seed picks names,
    * popularity ranks, icon bytes and channel heads. */
  private def newPkg(rng: Random, name: String, index: Int, bundles: Int,
      iconShare: Double): Pkg = {
    val icon =
      if ((index % 100) < iconShare * 100) {
        val bytes = new Array[Byte](IconBytes)
        rng.nextBytes(bytes)
        Some(Icon(Mediatypes(index % Mediatypes.size), bytes))
      } else None
    val versions = (1 to bundles).toVector
    val channels = ChannelNames.take(1 + index % ChannelNames.size)
      .map(c => Channel(c, versions(rng.nextInt(versions.size))))
    Pkg(name, icon, channels, versions)
  }

  def generate(seed: Long, shape: Shape): Catalog = {
    val rng = new Random(seed)
    // Bundle counts follow a Zipf law over a seeded popularity rank.
    val ranks = rng.shuffle((1 to shape.packages).toVector)
    val pkgs = (0 until shape.packages).map { i =>
      val name = packageName(Words(rng.nextInt(Words.size)), i)
      val bundles = math.max(1,
        math.round(shape.maxBundles / math.pow(ranks(i), shape.zipf)).toInt)
      name -> newPkg(rng, name, i * 37, bundles, shape.iconShare)
    }
    val globals = (0 until shape.globals).toVector.map { i =>
      Global(if (i % 2 == 0) "olm.global.feed" else "olm.global.notice",
        s"global-${Words(rng.nextInt(Words.size))}-$i")
    }
    Catalog(SortedMap(pkgs: _*), globals)
  }

  /** Deterministic filler text of `len` characters keyed by `key`. */
  private def filler(key: String, len: Int): String = {
    val r = new Random(key.hashCode.toLong)
    val sb = new StringBuilder(len)
    while (sb.length < len)
      sb.append(if (r.nextInt(7) == 0) ' ' else ('a' + r.nextInt(26)).toChar)
    sb.toString
  }

  private def bundleName(p: String, v: Int): String = s"$p.v1.$v.0"

  def records(c: Catalog): Vector[Rec] = {
    val perPkg = c.pkgs.values.toVector.flatMap { p =>
      val icon = p.icon.fold("") { i =>
        s""","icon":{"base64data":"${Base64.getEncoder.encodeToString(i.data)}","mediatype":"${i.mediatype}"}"""
      }
      val pkgRec = Rec(p.name, SchemaPackage, p.name,
        s"""{"schema":"$SchemaPackage","name":"${p.name}","defaultChannel":"${p.channels.head.name}","description":"${filler(p.name, 120)}"$icon}""")
      val chans = p.channels.map { ch =>
        val entries = p.versions.filter(_ <= ch.head).zipWithIndex.map {
          case (v, 0) => s"""{"name":"${bundleName(p.name, v)}"}"""
          case (v, j) =>
            val prev = bundleName(p.name, p.versions.filter(_ <= ch.head)(j - 1))
            s"""{"name":"${bundleName(p.name, v)}","replaces":"$prev"}"""
        }.mkString(",")
        Rec(p.name, SchemaChannel, ch.name,
          s"""{"schema":"$SchemaChannel","package":"${p.name}","name":"${ch.name}","entries":[$entries]}""")
      }
      val bundles = p.versions.map { v =>
        val b = bundleName(p.name, v)
        val digest = Integer.toHexString(b.hashCode)
        Rec(p.name, SchemaBundle, b,
          s"""{"schema":"$SchemaBundle","package":"${p.name}","name":"$b","image":"registry.example/${p.name}-bundle@sha256:$digest","properties":[{"type":"olm.package","value":{"packageName":"${p.name}","version":"1.$v.0"}},{"type":"olm.csv.metadata","value":{"description":"${filler(b, 400 + v * 397 % 1600)}"}}]}""")
      }
      pkgRec +: (chans ++ bundles)
    }
    val globals = c.globals.map { g =>
      Rec(GlobalKey, g.schema, g.name,
        s"""{"schema":"${g.schema}","name":"${g.name}","data":"${filler(g.name, 200)}"}""")
    }
    perPkg ++ globals
  }

  /** The catalog as one JSONL stream, one record a line. */
  def render(c: Catalog): Array[Byte] =
    records(c).map(_.blob).mkString("", "\n", "\n").getBytes(UTF_8)

  /** Writes the source and stamps it with a fixed modification time, so
    * the refresh watermark advances by exactly one step per version. */
  def writeSource(path: Path, c: Catalog, version: Int): Long = {
    val bytes = render(c)
    Files.createDirectories(path.getParent)
    Files.write(path, bytes)
    Files.setLastModifiedTime(path,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + version * 1000L))
    bytes.length.toLong
  }

  /** One refresh cycle's change: new bundles and a moved channel head in
    * a few packages, and every other cycle a package removed or added.
    * Sizes do not depend on the seed: a cycle adds the same number of
    * bundles, and a removal takes the smallest untouched package.
    * Returns the new version and a package whose bundle listing changed. */
  def mutate(c: Catalog, rng: Random, cycle: Int): (Catalog, String) = {
    val names = c.pkgs.keys.toVector
    val touched = rng.shuffle(names).take(3)
    var pkgs = c.pkgs
    touched.foreach { n =>
      val p = pkgs(n)
      val added = (1 to 1 + cycle % 2).map(p.versions.last + _)
      val versions = p.versions ++ added
      val ci = rng.nextInt(p.channels.size)
      val channels = p.channels.updated(ci, p.channels(ci).copy(head = versions.last))
      pkgs = pkgs.updated(n, p.copy(versions = versions, channels = channels))
    }
    if (cycle % 4 == 3) {
      val n = packageName(Words(rng.nextInt(Words.size)), 1000 + cycle)
      pkgs = pkgs.updated(n, newPkg(rng, n, cycle, 2, 0.8))
    } else if (cycle % 4 == 1) {
      pkgs = pkgs - names.filterNot(touched.contains)
        .minBy(n => (pkgs(n).versions.size, n))
    }
    (c.copy(pkgs = pkgs), touched.head)
  }

  /** The answers every route must give for one catalog version. */
  final class Answers(c: Catalog) {
    val recs: Vector[Rec] = records(c)
    private val parts: Map[String, SortedMap[String, SortedMap[String, String]]] =
      recs.groupBy(_.key).map { case (k, rs) =>
        k -> SortedMap(rs.groupBy(_.schema).toSeq.map { case (s, rs2) =>
          s -> SortedMap(rs2.map(r => r.name -> r.blob): _*)
        }: _*)
      }
    val packages: Vector[String] = parts.keys.toVector.sorted
    def schemas(pkg: String): Vector[String] =
      parts.get(pkg).fold(Vector.empty[String])(_.keys.toVector)
    def objects(pkg: String, schema: String): Vector[String] =
      parts.get(pkg).flatMap(_.get(schema))
        .fold(Vector.empty[String])(_.keys.toVector)
    def blob(pkg: String, schema: String, name: String): Vector[String] =
      parts.get(pkg).flatMap(_.get(schema)).flatMap(_.get(name)).toVector
    def icon(pkg: String): Option[Icon] = c.pkgs.get(pkg).flatMap(_.icon)
  }
}
