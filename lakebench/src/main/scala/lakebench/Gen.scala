package lakebench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Seeded input generator. Every value is a pure function of (seed, stream,
  * key), so the same seed yields byte-identical parquet files. Files are
  * written with parquet's own writer, not through Spark, so the engine under
  * test only ever sees the finished files.
  *
  * The tables follow the TPC-H-shaped sf0.1 layout the engine's queries use
  * (150k orders over 15k customers, ~4 line items per order, 5k
  * documents), with prices in whole cents so decimal sums are exact. */
object Gen {

  /** Rows and bytes a generator call wrote. */
  final case class Written(rows: Long, bytes: Long) {
    def +(o: Written): Written = Written(rows + o.rows, bytes + o.bytes)
  }

  val SfOrders = 150000L
  val SfCustomers = 15000L
  val SfDocuments = 5000

  /** 1992-01-01T00:00:00Z and the TPC-H order-date span (~2400 days). */
  val EpochMicros = 694224000000000L
  val DayMicros = 86400000000L
  val OrderDateSpanDays = 2400

  def rng(seed: Long, stream: String, index: Long): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL
    h ^= index * 0x165667B19E3779F9L
    h ^= h >>> 29; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 32
    new SplittableRandom(h)
  }

  val OrdersSchema: MessageType = MessageTypeParser.parseMessageType(
    """message orders {
      |  optional int64 o_orderkey;
      |  optional int64 o_custkey;
      |  optional binary o_orderstatus (STRING);
      |  optional double o_totalprice;
      |  optional int64 o_orderdate (TIMESTAMP(MICROS,true));
      |  optional binary o_orderpriority (STRING);
      |  optional int64 loaded_at (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  val LineitemSchema: MessageType = MessageTypeParser.parseMessageType(
    """message lineitem {
      |  optional int64 l_orderkey;
      |  optional int64 l_partkey;
      |  optional int64 l_suppkey;
      |  optional int32 l_linenumber;
      |  optional double l_quantity;
      |  optional double l_extendedprice;
      |  optional double l_discount;
      |  optional double l_tax;
      |  optional binary l_returnflag (STRING);
      |  optional binary l_linestatus (STRING);
      |  optional int64 l_shipdate (TIMESTAMP(MICROS,true));
      |  optional int64 loaded_at (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  val DocumentsSchema: MessageType = MessageTypeParser.parseMessageType(
    """message documents {
      |  optional int64 doc_id;
      |  optional binary text (STRING);
      |  optional binary lang (STRING);
      |  optional binary source (STRING);
      |  optional int64 n_chars;
      |}""".stripMargin)

  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Statuses = Array("F", "O", "P")

  /** Write `rows` groups to `path` (parent directories created). */
  def write(path: Path, schema: MessageType)(fill: (() => Group) => Iterator[Group]): Written = {
    Files.createDirectories(path.getParent)
    val factory = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    var n = 0L
    try fill(() => factory.newGroup()).foreach { g => writer.write(g); n += 1 }
    finally writer.close()
    Written(n, Files.size(path))
  }

  private def cents(r: SplittableRandom, lo: Int, hi: Int): Double =
    r.nextInt(lo * 100, hi * 100 + 1) / 100.0

  /** Order date of `key`: dates advance with the key across the sf0.1 key
    * range, so an arrival batch covers a contiguous stretch of time. */
  def orderDate(seed: Long, key: Long): Long = {
    val r = rng(seed, "odate", key)
    val day = (key * OrderDateSpanDays / SfOrders).toInt + r.nextInt(0, 10)
    EpochMicros + day.toLong * DayMicros + r.nextLong(0L, DayMicros)
  }

  /** Version `version` of order `key` (0 is the original). Each version has
    * its own status and price; customer, date and priority never change. */
  def order(seed: Long, key: Long, version: Int, loadedAt: Long)(g: Group): Group = {
    val fixed = rng(seed, "order", key)
    val v = rng(seed, s"order-v$version", key)
    g.append("o_orderkey", key)
      .append("o_custkey", 1L + fixed.nextLong(SfCustomers))
      .append("o_orderstatus", Statuses(v.nextInt(Statuses.length)))
      .append("o_totalprice", cents(v, 900, 450000))
      .append("o_orderdate", orderDate(seed, key))
      .append("o_orderpriority", Priorities(fixed.nextInt(Priorities.length)))
      .append("loaded_at", loadedAt)
  }

  /** Line items of order `key` (1 to 7 lines, shipped 1-121 days after it). */
  def lineitems(seed: Long, key: Long, loadedAt: Long)(newGroup: () => Group): Iterator[Group] = {
    val r = rng(seed, "lines", key)
    val odate = orderDate(seed, key)
    val n = 1 + r.nextInt(7)
    Iterator.tabulate(n) { i =>
      val qty = 1 + r.nextInt(50)
      val price = r.nextInt(900 * 100, 2000 * 100 + 1).toLong
      val ship = odate + (1 + r.nextInt(121)).toLong * DayMicros
      newGroup()
        .append("l_orderkey", key)
        .append("l_partkey", 1L + r.nextLong(20000L))
        .append("l_suppkey", 1L + r.nextLong(1000L))
        .append("l_linenumber", i + 1)
        .append("l_quantity", qty.toDouble)
        .append("l_extendedprice", (price * qty) / 100.0)
        .append("l_discount", r.nextInt(11) / 100.0)
        .append("l_tax", r.nextInt(9) / 100.0)
        .append("l_returnflag", if (ship < EpochMicros + 1200L * DayMicros) (if (r.nextBoolean()) "R" else "A") else "N")
        .append("l_linestatus", if (ship < EpochMicros + 1300L * DayMicros) "F" else "O")
        .append("l_shipdate", ship)
        .append("loaded_at", loadedAt)
    }
  }

  /** One arrival batch, as one orders file and one lineitem file: new
    * orders [from, until) with their line items, plus new versions of
    * already-landed orders (`updates`: key -> version). */
  def arrivals(seed: Long, ordersPath: Path, lineitemPath: Path, from: Long, until: Long,
               updates: Seq[(Long, Int)], loadedAt: Long): Written = {
    val o = write(ordersPath, OrdersSchema) { g =>
      Iterator.range(from.toInt, until.toInt).map(k => order(seed, k.toLong, 0, loadedAt)(g())) ++
        updates.iterator.map { case (k, v) => order(seed, k, v, loadedAt)(g()) }
    }
    val l = write(lineitemPath, LineitemSchema) { g =>
      Iterator.range(from.toInt, until.toInt).flatMap(k =>
        lineitems(seed, k.toLong, loadedAt)(g))
    }
    o + l
  }

  /** `count` distinct keys from [1, landed), in ascending order. */
  def sampleKeys(seed: Long, stream: String, index: Long, landed: Long, count: Int): Array[Long] = {
    val r = rng(seed, stream, index)
    val picked = scala.collection.mutable.HashSet.empty[Long]
    val want = math.min(count.toLong, landed - 1).toInt
    while (picked.size < want) picked += 1L + r.nextLong(landed - 1)
    picked.toArray.sorted
  }

  // ---- documents -----------------------------------------------------

  private val Vocab = Array("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "join", "vector",
    "customer", "shard", "index", "cache", "plan", "stage", "task", "node", "page",
    "block", "file", "lake", "model")
  private val Stop = Array("the", "a", "of", "and", "to", "in")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")
  private val Alphabet = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).mkString

  /** One base document: 8-90 words; English documents lean on the first
    * half of the vocabulary so the quality classifier has a signal. */
  private def baseDoc(seed: Long, id: Int): (String, String) = {
    val r = rng(seed, "doc", id.toLong)
    val lang = Langs(r.nextInt(Langs.length))
    val n = 8 + r.nextInt(83)
    val lean = if (lang == "en") 0 else Vocab.length / 2
    val words = Array.fill(n) {
      val x = r.nextInt(100)
      if (x < 10) Stop(r.nextInt(Stop.length))
      else if (x < 55) Vocab((lean + r.nextInt(Vocab.length / 2)) % Vocab.length)
      else Vocab(r.nextInt(Vocab.length))
    }
    (words.mkString(" "), lang)
  }

  /** Per-shard character bijection of [a-zA-Z0-9] (shard 0 is the
    * identity); stopwords stay verbatim so the quality rules see them. */
  private def shardMap(seed: Long, shard: Int): Map[Char, Char] =
    if (shard == 0) Alphabet.map(c => c -> c).toMap
    else {
      val chars = Alphabet.toArray
      val r = rng(seed, "shard", shard.toLong)
      for (i <- chars.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = chars(i); chars(i) = chars(j); chars(j) = t
      }
      Alphabet.zip(chars).toMap
    }

  private def remap(text: String, m: Map[Char, Char]): String =
    text.split(' ').map(w => if (Stop.contains(w)) w else w.map(c => m.getOrElse(c, c)))
      .mkString(" ")

  /** One near-duplicate edit: a single word of a 30+ word document
    * replaced, which keeps its character 3-gram Jaccard above 0.8. */
  private def perturb(text: String, r: SplittableRandom): String = {
    val w = text.split(' ')
    w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length))
    w.mkString(" ")
  }

  /** Result of [[corpus]]: what was written plus the injected near-duplicate
    * pairs (original id, copy id). */
  final case class Corpus(written: Written, injected: Seq[(Long, Long)])

  /** A curation corpus following the sf1 recipe: `shards` character-
    * permuted copies of a `baseDocs`-document base corpus, then
    * `neardupPercent`% of the documents replaced by one-word edits of
    * another 30+ word document of the same shard. */
  def corpus(seed: Long, path: Path, baseDocs: Int, shards: Int, neardupPercent: Int): Corpus = {
    val base = Array.tabulate(baseDocs)(i => baseDoc(seed, i))
    val injected = Seq.newBuilder[(Long, Long)]
    val w = write(path, DocumentsSchema) { g =>
      Iterator.range(0, shards).flatMap { s =>
        val m = shardMap(seed, s)
        // a copy's original is an earlier, unedited 30+ word document
        val isCopy = new Array[Boolean](baseDocs)
        Iterator.range(0, baseDocs).map { i =>
          val id = s.toLong * baseDocs + i
          val r = rng(seed, "dup", id)
          val (text0, lang) =
            if (i > 0 && r.nextInt(100) < neardupPercent) {
              val orig = r.nextInt(i)
              if (!isCopy(orig) && base(orig)._1.count(_ == ' ') >= 29) {
                isCopy(i) = true
                injected += ((s.toLong * baseDocs + orig, id))
                (perturb(base(orig)._1, r), base(orig)._2)
              } else base(i)
            } else base(i)
          val text = remap(text0, m)
          g().append("doc_id", id).append("text", text).append("lang", lang)
            .append("source", s"src${id % 10}").append("n_chars", text.length.toLong)
        }
      }
    }
    Corpus(w, injected.result())
  }
}
