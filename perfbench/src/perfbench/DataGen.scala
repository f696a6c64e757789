package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Input sizes of one benchmark scale. `bench` has the shape of the
  * repository's sf0.01 test tables and the reference job's full corpus;
  * `smoke` the shape of sf0.001 and a twentieth of the corpus. */
final case class Scale(
    name: String,
    customers: Int, suppliers: Int, parts: Int, orders: Int, lineitems: Int,
    events: Int, users: Int, documents: Int, vectors: Int,
    corpusDivisor: Int,
    streamKeys: Int, streamBatchOps: Int)

object Scale {
  val bench = Scale("bench", customers = 1500, suppliers = 100, parts = 2000,
    orders = 15000, lineitems = 60000, events = 10000, users = 150,
    documents = 500, vectors = 500, corpusDivisor = 1,
    streamKeys = 2000, streamBatchOps = 400)
  val smoke = Scale("smoke", customers = 150, suppliers = 10, parts = 200,
    orders = 1500, lineitems = 6000, events = 1000, users = 15,
    documents = 500, vectors = 500, corpusDivisor = 20,
    streamKeys = 200, streamBatchOps = 50)
  def apply(name: String): Scale = name match {
    case "bench" => bench
    case "smoke" => smoke
    case other => throw new IllegalArgumentException(s"unknown scale: $other")
  }
}

/** Zipf(s) sampler over ranks 0 until n, by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
  def sample(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded generators for every benchmark input. The relational tables use
  * a fixed seed (their expected fingerprints are stored next to the
  * benchmark); the corpus and the KV op stream use the run's seed. */
object DataGen {

  /** Bump when the table generator changes: it names the cache directory
    * and invalidates the stored fingerprints. */
  val TablesVersion = "v1"
  val TablesSeed = 42L

  def tablesDir(root: String, scale: Scale): String = s"$root/tables-$TablesVersion-${scale.name}"

  /** Writes the ten tables under [[tablesDir]] unless a complete copy is
    * already there. Returns the directory. */
  def ensureTables(spark: SparkSession, root: String, scale: Scale): String = {
    val dir = tablesDir(root, scale)
    val done = Paths.get(dir, "_COMPLETE")
    if (!Files.exists(done)) {
      deleteRec(Paths.get(dir))
      val tables = Seq(
        "region" -> region(), "nation" -> nation(), "customer" -> customer(scale),
        "supplier" -> supplier(scale), "part" -> part(scale), "orders" -> orders(scale),
        "lineitem" -> lineitem(scale), "events" -> events(scale),
        "documents" -> documents(scale), "embeddings" -> embeddings(scale))
      tables.foreach { case (name, (schema, rows)) =>
        spark.createDataFrame(rows.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      }
      Files.writeString(done, TablesVersion)
    }
    dir
  }

  private def rng(salt: Long) = new SplittableRandom(TablesSeed * 1000003L + salt)
  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
  private def schema(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  private val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartAdjs = IndexedSeq("blue", "red", "small", "large", "hot", "cold", "old", "new")
  private val PartNouns = IndexedSeq("widget", "gear", "bolt", "ring", "rod", "plate", "gizmo", "anvil")
  private val PartTypes = IndexedSeq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = IndexedSeq("view", "click", "signup", "purchase", "error")
  private val DocWords = IndexedSeq("a", "the", "data", "table", "row", "column", "key", "value",
    "join", "group", "sort", "merge", "hash", "scan", "filter", "agg", "window", "batch",
    "stream", "spark", "query", "order", "customer", "part", "line", "vector", "fast", "slow",
    "big", "small")

  private def region() = (
    schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
    Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => Row(i, n) })

  private def nation() = (
    schema("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
    (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

  private def customer(s: Scale) = {
    val r = rng(1)
    (schema("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until s.customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(r, -999.99, 9999.99), pick(r, Segments))))
  }

  private def supplier(s: Scale) = {
    val r = rng(2)
    (schema("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (0 until s.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(r, -999.99, 9999.99))))
  }

  private def part(s: Scale) = {
    val r = rng(3)
    (schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until s.parts).map(i => Row(i.toLong, s"${pick(r, PartAdjs)} ${pick(r, PartNouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(r, PartTypes), 1 + r.nextInt(50),
        (9000 + i % 1000) / 10.0)))
  }

  private val Epoch1995 = LocalDateTime.of(1995, 1, 1, 0, 0)

  private def orders(s: Scale) = {
    val r = rng(4)
    val days = 2403 // 1995-01-01 .. 2001-08-01
    (schema("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType,
      "o_orderpriority" -> StringType),
      (0 until s.orders).map(i => Row(i.toLong, r.nextInt(s.customers).toLong,
        pick(r, IndexedSeq("F", "O", "P")), cents(r, 1000.0, 500000.0),
        Epoch1995.plusDays(r.nextInt(days + 1)), pick(r, Priorities))))
  }

  private def lineitem(s: Scale) = {
    val r = rng(5)
    val days = 2498 // 1995-01-02 .. 2001-11-04
    (schema("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
      (0 until s.lineitems).map(_ => Row(r.nextInt(s.orders).toLong,
        r.nextInt(s.parts).toLong, r.nextInt(s.suppliers).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, cents(r, 900.0, 105000.0), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, pick(r, IndexedSeq("A", "N", "R")),
        pick(r, IndexedSeq("O", "F")), Epoch1995.plusDays(1 + r.nextInt(days + 1)))))
  }

  private def events(s: Scale) = {
    val r = rng(6)
    val start = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 24 * 3600 * 1000000L
    val offsets = Array.fill(s.events)((r.nextDouble() * spanMicros).toLong).sorted
    (schema("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      offsets.toIndexedSeq.zipWithIndex.map { case (off, i) =>
        val value = math.round(-math.log(1.0 - r.nextDouble()) * 5000.0) / 100.0
        Row(i.toLong, start.plusNanos(off * 1000L), r.nextInt(s.users).toLong,
          pick(r, EventTypes), value, s"""{"k": ${r.nextInt(100)}}""")
      })
  }

  private def documents(s: Scale) = {
    val r = rng(7)
    val texts = new Array[String](s.documents)
    val rows = (0 until s.documents).map { i =>
      texts(i) =
        if (i > 0 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(90))(pick(r, DocWords)).mkString(" ")
      val u = r.nextDouble()
      val lang = if (u < 0.4) "en" else IndexedSeq("de", "es", "fr", "zh")(((u - 0.4) / 0.15).toInt.min(3))
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    (schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType), rows)
  }

  private def embeddings(s: Scale) = {
    val r = rng(8)
    val dim = 64
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    def gauss() = Array.fill(dim)(gaussian(r))
    val centers = Array.fill(10)(unit(gauss()))
    (schema("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until s.vectors).map { i =>
        val label = r.nextInt(10)
        val v = unit(gauss().zip(centers(label)).map { case (g, c) => g + 0.6 * c })
        Row(i.toLong, v.map(_.toFloat).toSeq, label)
      })
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u1 = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  // ------------------------------------------------------------ text corpus

  /** A generated corpus and the exact answers of wc and indexer over it. */
  final case class Corpus(dir: String, bytes: Long, tokens: Long, counts: Map[String, Long],
      postings: Map[String, Vector[String]])

  /** Byte sizes of the reference job's eight input texts (FIXTURES.md A1:
    * 3,301,104 bytes in all, 4.3x between the smallest and the largest),
    * in the order listed there. */
  val CorpusFileBytes: Seq[Int] =
    Seq(138885, 453168, 441033, 540174, 594262, 139054, 581863, 412665)

  private val Letters = "abcdefghijklmnopqrstuvwxyz"
  private val Accented = "éèàüöç"
  /** FIXTURES.md A1 has 66,602 lines over 623,948 tokens: one line end per
    * 9.4 words. */
  private val LineEndP = 1 / 9.4
  private val SentenceEndP = 1 / 15.0
  private val CommaP = 1 / 12.0

  /** Eight text files shaped after the reference job's input (FIXTURES.md
    * A1): the recorded byte sizes divided by `scale.corpusDivisor`, filled
    * exactly. Words are letter runs drawn Zipf(1.0) from a 15,000-entry
    * case-sensitive vocabulary in which frequent words are short; a
    * sentence end capitalises the next word. The vocabulary is fixed, like
    * the tables, so every seed draws the same amount of work; the text is
    * drawn from the seed. At full size this gives about 630k tokens and
    * 22.3k distinct words against A1's 623,948 and 22,107. The values A1
    * does not fix are assumptions, each with its reason in
    * perfbench/README.md.
    * Word boundaries are exactly the letter runs, so the counts kept here
    * are the answers the reference tokenizer must give. */
  def corpus(dir: String, scale: Scale, seed: Long): Corpus = {
    val vocab = {
      val r = rng(9)
      val seen = new java.util.HashSet[String]()
      (0 until 15000).map { rank =>
        val meanLen = 1.62 + 0.5 * math.log(rank + 1.0)
        var len = math.max(1, math.min(16, math.round(meanLen + gaussian(r)).toInt))
        var w: String = null
        var tries = 0
        while (w == null || !seen.add(w)) {
          if (tries == 20) { len += 1; tries = 0 }
          tries += 1
          val sb = new StringBuilder
          (0 until len).foreach(_ => sb += Letters(r.nextInt(Letters.length)))
          if (r.nextDouble() < 0.005) sb(r.nextInt(len)) = Accented(r.nextInt(Accented.length))
          w = if (r.nextDouble() < 0.03) capital(sb.toString) else sb.toString
        }
        w
      }
    }
    val r = new SplittableRandom(seed)
    val zipf = new Zipf(vocab.size, 1.0)
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    val postings = scala.collection.mutable.HashMap.empty[String, Vector[String]]
    Files.createDirectories(Paths.get(dir))
    var tokens = 0L
    CorpusFileBytes.map(_ / scale.corpusDivisor).zipWithIndex.foreach { case (size, f) =>
      val name = f"doc$f%d.txt"
      val out = new java.io.ByteArrayOutputStream(size)
      val inFile = scala.collection.mutable.HashSet.empty[String]
      var cap = true
      var full = false
      while (!full) {
        val w0 = vocab(zipf.sample(r))
        val w = if (cap) capital(w0) else w0
        val u = r.nextDouble()
        val sep =
          if (u < LineEndP) "\n"
          else if (u < LineEndP + SentenceEndP) ". "
          else if (u < LineEndP + SentenceEndP + CommaP) ", "
          else " "
        cap = sep == ". "
        val piece = (w + sep).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (out.size + piece.length > size) full = true
        else {
          out.write(piece)
          tokens += 1
          counts(w) = counts.getOrElse(w, 0L) + 1
          inFile += w
        }
      }
      while (out.size < size) out.write(' ')
      inFile.foreach(w => postings(w) = postings.getOrElse(w, Vector.empty) :+ name)
      Files.write(Paths.get(dir, name), out.toByteArray)
    }
    Corpus(dir, CorpusFileBytes.map(_ / scale.corpusDivisor).sum.toLong, tokens, counts.toMap,
      postings.toMap)
  }

  private def capital(w: String): String = s"${w.head.toUpper}${w.tail}"

  def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
  }
}
