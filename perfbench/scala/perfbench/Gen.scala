package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.{Customer, Document, Embedding, Event, Order}

/** Deterministic input generator. The base tables have the harness
  * testdata schemas (region … embeddings); `Sf1Ladder.expand` then grows
  * them into FK-consistent key-shifted copies, so documents in copies k>0
  * are near-duplicates of copy 0 and dedup clusters are real.
  *
  * The content is fixed (generator seed 42): the benchmark's `--seed` only
  * permutes row and file order when a run lands its inputs (`land.py`), so
  * every output hash must be the same for every seed.
  */
object Gen {
  // base table sizes; Sf1Ladder.expand doubles all but region and nation
  private val (orders, customers, parts, suppliers) = (7500, 750, 1000, 50)
  private val (docs, vectors, events) = (100, 100, 5000)

  private val Words = ("row the query stream fast spark line small customer group value " +
    "hash batch sort data big filter dup key agg scan slow table part a merge window " +
    "order column join vector").split(" ")
  private val Day = 86400000L
  private val Epoch1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime

  /** Writes the base tables under `<dir>/base` and the expansion under `<dir>/expanded`. */
  def generate(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val base = s"$dir/base"
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$base/$name.parquet")
    def money(lo: Double, hi: Double): Double =
      math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(span: Int): Timestamp = new Timestamp(Epoch1995 + rnd.nextInt(span) * Day)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save(regions.zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"), "region")
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey"),
      "nation")
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save((0 until customers).map(i => Customer(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
      money(-999.99, 9999.99), segments(rnd.nextInt(5)))).toDF(), "customer")
    save((0 until suppliers).map(i => (i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
      money(-999.99, 9999.99))).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")
    val colours = Seq("blue", "old", "small", "new", "hot", "large", "cold", "red")
    val nouns = Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
    val types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    save((0 until parts).map(i => (i.toLong, s"${colours(rnd.nextInt(8))} ${nouns(rnd.nextInt(8))}",
      s"Brand#${1 + rnd.nextInt(25)}", types(rnd.nextInt(6)), 1 + rnd.nextInt(50),
      900.0 + (i % 1000) / 10.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), "part")
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val statuses = Seq("O", "F", "P")
    save((0 until orders).map(i => Order(i.toLong, rnd.nextInt(customers).toLong,
      statuses(rnd.nextInt(3)), money(1000, 500000), day(2404),
      priorities(rnd.nextInt(5)))).toDF(), "orders")
    val lines = for {
      o <- 0 until orders
      ln <- 1 to 1 + rnd.nextInt(7)
    } yield (o.toLong, rnd.nextInt(parts).toLong, rnd.nextInt(suppliers).toLong, ln,
      (1 + rnd.nextInt(50)).toDouble, money(900, 100000), rnd.nextInt(11) / 100.0,
      rnd.nextInt(9) / 100.0, Seq("A", "N", "R")(rnd.nextInt(3)), Seq("O", "F")(rnd.nextInt(2)),
      day(2404))
    save(lines.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      "lineitem")
    val t2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val kinds = Seq("click", "view", "purchase", "signup", "error")
    save((0 until events).map(i => Event(i.toLong,
      new Timestamp(t2024 + (i.toLong * 30 * Day) / events + rnd.nextInt(1000)),
      rnd.nextInt(150).toLong, kinds(rnd.nextInt(5)), money(0.01, 490), s"""{"k": ${rnd.nextInt(100)}}"""))
      .toDF(), "events")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until docs).foreach { i =>
      val t =
        if (i > 10 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i))        // exact duplicate
        else if (i > 10 && rnd.nextInt(20) == 0) {                        // near duplicate
          val w = texts(rnd.nextInt(i)).split(" ")
          w(rnd.nextInt(w.length)) = Words(rnd.nextInt(Words.length))
          w.mkString(" ")
        } else Seq.fill(8 + rnd.nextInt(80))(Words(rnd.nextInt(Words.length))).mkString(" ")
      texts += t
    }
    val langs = Seq("en", "en", "en", "en", "de", "fr", "es", "zh")
    save(texts.zipWithIndex.map { case (t, i) =>
      Document(i.toLong, t, langs(rnd.nextInt(8)), s"src${rnd.nextInt(20)}", t.length.toLong)
    }.toSeq.toDF(), "documents")
    val centroids = Array.fill(10, 64)(rnd.nextGaussian())
    save((0 until vectors).map { i =>
      val label = rnd.nextInt(10)
      val v = centroids(label).map(_ + rnd.nextGaussian() * 0.8)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i.toLong, v.map(x => (x / norm).toFloat), label)
    }.toDF(), "embeddings")
    graft.Sf1Ladder.expand(spark, base, s"$dir/expanded", factor = 2)
  }
}
