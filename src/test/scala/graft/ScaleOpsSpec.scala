package graft

import graft.operators.{Geo, Similarity, Skew}
import graft.sources.RestJsonSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale-path operators: salted skew joins, REST-source distribution,
  * IVF search, CRS reprojection round-trip. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("Skew.saltedJoin equals plain inner join on a skewed key") {
    val big = (1 to 5000).map(i => (if (i % 10 == 0) 7 else i % 100, i))
      .toDF("k", "payload")
    val small = (0 until 100).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = big.join(small, "k").select("k", "payload", "name")
      .as[(Int, Int, String)].collect().toSet
    val salted = Skew.saltedJoin(big, small, "k", salt = 8)
      .select("k", "payload", "name").as[(Int, Int, String)].collect().toSet
    assert(salted === plain)
  }

  test("connectedComponents: int ids keep their dtype and take min-id labels") {
    // the output must stay in the INPUT id dtype (the oracle dump
    // compares schemas) and label every node with its component's min id
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (7L, 7L))
      .toDF("doc_a", "doc_b")
      .select(col("doc_a").cast("int").as("doc_a"),
        col("doc_b").cast("int").as("doc_b"))
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    assert(got.schema("node").dataType === IntegerType)
    assert(got.schema("cluster").dataType === IntegerType)
    val labels = got.as[(Int, Int)].collect().toSet
    assert(labels === Set((1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (7, 7)))
  }

  test("connectedComponents labels string ids through the order-preserving index") {
    import graft.operators.Dedup
    val pairs = Seq(("b", "c"), ("a", "b"), ("x", "y")).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(String, String)].collect().toSet
    assert(got === Set(("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")))
  }

  test("connectedComponents drops pairs with a null int id") {
    import graft.operators.Dedup
    val pairs = Seq[(Option[Int], Option[Int])](
      (Some(1), Some(2)), (Some(2), None), (None, Some(3)), (Some(4), Some(5)))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Int, Int)].collect().toSet
    assert(got === Set((1, 1), (2, 1), (4, 4), (5, 4)))
  }

  test("connectedComponents drops pairs with a null string id") {
    import graft.operators.Dedup
    val pairs = Seq[(String, String)](
      ("a", "b"), ("b", null), (null, "c"), ("x", "y"))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(String, String)].collect().toSet
    assert(got === Set(("a", "a"), ("b", "a"), ("x", "x"), ("y", "x")))
  }

  test("connectedComponents widens mixed int/long ids to long") {
    import graft.operators.Dedup
    val pairs = Seq((3, 2L), (2, 1L), (7, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    assert(got.schema("node").dataType === LongType)
    assert(got.schema("cluster").dataType === LongType)
    assert(got.as[(Long, Long)].collect().toSet ===
      Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L)))
  }

  test("connectedComponents labels a 200-node string chain with its min id") {
    // zero-padded so string order is numeric order: "n000" is the min;
    // like the long chain below, this needs pointer doubling, here
    // through the dense index and back
    import graft.operators.Dedup
    val chain = (0 until 199).map(i => (f"n$i%03d", f"n${i + 1}%03d"))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(chain, "doc_a", "doc_b")
      .as[(String, String)].collect()
    assert(labels.length === 200)
    assert(labels.forall(_._2 == "n000"))
  }

  test("connectedComponents RDD arm labels a deep chain needing pointer doubling") {
    // 200-node path: plain propagation needs 200 rounds; the doubling
    // jump must engage (round 3+) for this to converge under maxIter
    import graft.operators.Dedup
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(chain, "doc_a", "doc_b")
    assert(labels.filter(col("cluster") =!= 0L).count() === 0)
    assert(labels.count() === 201)
  }

  test("connectedComponents converges on a 10k-node path graph within default maxIter") {
    // the diameter-safe guarantee: pointer doubling makes rounds
    // O(log diameter), so a 10_000-edge chain — the pathological
    // shape for plain label propagation (10k rounds) — converges
    // inside the default maxIter = 50 (needs ~15 doubling rounds)
    import graft.operators.Dedup
    val chain = (0L until 10000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(chain, "doc_a", "doc_b")
    assert(labels.filter(col("cluster") =!= 0L).count() === 0)
    assert(labels.count() === 10001)
  }

  test("RestJsonSource: distributed fetch + from_json with per-request error isolation") {
    val schema = StructType(Seq(StructField("station", StringType),
      StructField("temps", ArrayType(DoubleType))))
    val fetcher: ((String, Int)) => Option[String] = {
      case ("bad", _) => None  // failed endpoint → no rows, no abort
      case (st, yr) => Some(s"""{"station":"$st","temps":[${yr % 10}.5, 2.0]}""")
    }
    val got = RestJsonSource.fetch(spark,
      Seq(("330021", 2020), ("330021", 2021), ("bad", 2020), ("330030", 2020)),
      fetcher, schema)
    assert(got.count() === 3)
    val row = got.filter(col("request._2") === 2021).select("data.temps").head()
    assert(row.getSeq[Double](0) === Seq(1.5, 2.0))
  }

  test("RestJsonSource.httpFetcher: pagination, retry-on-5xx, 4xx isolation over real HTTP") {
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
    def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/data", new HttpHandler {
      def handle(ex: HttpExchange): Unit = {
        val page = ex.getRequestURI.getQuery.stripPrefix("page=").toInt
        page match {
          case 4 => reply(ex, 404, "")             // missing page: 4xx, no retry
          case 3 =>                                 // first two hits 500, then ok
            if (flaky.incrementAndGet() <= 2) reply(ex, 500, "boom")
            else reply(ex, 200, s"""{"page":3,"items":["c"]}""")
          case p => reply(ex, 200, s"""{"page":$p,"items":["a","b"]}""")
        }
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val schema = StructType(Seq(StructField("page", IntegerType),
        StructField("items", ArrayType(StringType))))
      val fetcher = RestJsonSource.httpFetcher[Int](
        p => s"http://127.0.0.1:$port/data?page=$p", timeoutMs = 5000,
        retries = 2, backoffMs = 10L)
      val got = RestJsonSource.fetch(spark, Seq(1, 2, 3, 4), fetcher, schema)
        .select(col("request"), col("data.page"), col("data.items"))
      val rows = got.as[(Int, Int, Seq[String])].collect().sortBy(_._1)
      // page 4 isolated away (404); page 3 survived via retry; bodies parsed
      assert(rows.map(_._1).toSeq === Seq(1, 2, 3))
      assert(rows.forall { case (req, page, _) => req === page })
      assert(rows.find(_._1 == 3).get._3 === Seq("c"))
      assert(flaky.get() === 3)  // two 500s + the successful third attempt
    } finally server.stop(0)
  }

  test("IVF top-k agrees with brute force for queries whose neighbors share a cell") {
    val e = Tables(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 20)
    val ivf = Similarity.ivfTopK(q, e, "vec_id", "embedding", k = 3, nCells = 4)
    // structural checks: every query answered, ranks 1..3, cos within [-1,1]
    val rows = ivf.collect()
    assert(rows.map(_.getLong(0)).distinct.length === 20)
    assert(rows.forall(r => r.getInt(3) >= 1 && r.getInt(3) <= 3))
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0))
  }

  test("StressSmoke.generate: replicas are mutually distinct, intra-replica structure preserved") {
    val tmp = java.nio.file.Files.createTempDirectory("stress").toFile
    val src = new java.io.File(tmp, "src").getPath
    val work = new java.io.File(tmp, "work").getPath
    // two exact dups (1,2) and one distinct doc (3)
    Seq((1L, "a b c d", "en", "s"), (2L, "a b c d", "en", "s"),
      (3L, "x y z w", "zh", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$src/documents.parquet")
    Seq((1L, Seq(0.5f, 0.5f)), (2L, Seq(-0.5f, 0.5f)))
      .toDF("vec_id", "embedding").write.parquet(s"$src/embeddings.parquet")
    // minimal star schema + events (the generator replicates facts and
    // copies dims through)
    Seq((1L, "c1", 1, 10.0, "BUILDING")).toDF(
      "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$src/customer.parquet")
    Seq((1L, 1L, "O", 100.0, java.sql.Timestamp.valueOf("1996-01-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$src/orders.parquet")
    Seq((1L, 1L, 1L, 1, 5.0, 50.0, 0.1, 0.02, "N", "O",
      java.sql.Timestamp.valueOf("1996-02-01 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")
      .write.parquet(s"$src/lineitem.parquet")
    // ts as a real timestamp — the timestamp[us] testdata generation's
    // shape (the nanos-long shape is covered by the dtype-adaptivity
    // test below); exercises replicate()'s interval-shift branch
    Seq((1L, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704067200L)),
      7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$src/events.parquet")
    Seq((1, "r1")).toDF("r_regionkey", "r_name").write.parquet(s"$src/region.parquet")
    Seq((1, "n1", 1)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$src/nation.parquet")
    Seq((1L, "s1", 1, 5.0)).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(s"$src/supplier.parquet")
    Seq((1L, "p1", "Brand#1", "t", 10, 9.99))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.parquet(s"$src/part.parquet")
    StressSmoke.generate(spark, src, work, reps = 3)
    // star schema: the replicated join graph stays closed — every
    // replica's orders join its replica's customer and lineitem
    val ordersW = spark.read.parquet(s"$work/orders.parquet")
    val custW = spark.read.parquet(s"$work/customer.parquet")
    val liW = spark.read.parquet(s"$work/lineitem.parquet")
    assert(ordersW.count() === 3 && custW.count() === 3 && liW.count() === 3)
    assert(ordersW.join(custW, col("o_custkey") === col("c_custkey")).count() === 3)
    assert(ordersW.join(liW, col("o_orderkey") === col("l_orderkey")).count() === 3)
    // dims copy through unscaled
    assert(spark.read.parquet(s"$work/supplier.parquet").count() === 1)
    // events: replicas land on disjoint days (KNN-impute groups
    // replicate instead of densifying)
    val evW = Tables.withEpochDay(spark.read.parquet(s"$work/events.parquet"))
    assert(evW.count() === 3)
    assert(evW.select("day").distinct().count() === 3)
    val docs = spark.read.parquet(s"$work/documents.parquet")
    assert(docs.count() === 9)
    // replica 0 is byte-identical to the source corpus
    assert(docs.filter(col("doc_id") === 1L).select("text").as[String].head() === "a b c d")
    // intra-replica exact-dup structure: each replica has exactly one dup pair
    val fp = graft.operators.Dedup.exact(docs, "doc_id", "text")
    assert(fp.filter(col("dup_count") === 2).count() === 3)
    // cross-replica: replicas of the SAME doc share no tokens → 0 shingle overlap
    val texts = docs.filter(col("doc_id") % 10000000L === 3L)
      .select("text").as[String].collect()
    val tokenSets = texts.map(_.split(" ").toSet)
    for (a <- tokenSets; b <- tokenSets if a ne b) assert(a.intersect(b).isEmpty)
    // embeddings: replica vectors are regenerated, not near-copies
    val embs = spark.read.parquet(s"$work/embeddings.parquet")
    assert(embs.count() === 6)
    val reps1 = embs.filter(col("vec_id") % 10000000L === 1L)
      .select("embedding").as[Seq[Float]].collect()
    for (a <- reps1; b <- reps1 if a ne b) assert(a !== b)
  }

  test("UTM 19S forward/inverse round-trips RM coordinates to sub-mm") {
    // Región Metropolitana box (the reference's working area)
    val pts = Seq((-33.45, -70.66), (-34.28, -71.3), (-33.0, -70.4), (-33.51, -70.76))
    pts.foreach { case (lat, lon) =>
      val (e, n) = Geo.utm19sForward(lat, lon)
      // zone-19S sanity: easting within the zone, northing in southern range
      assert(e > 160000 && e < 840000, s"easting $e")
      assert(n > 6000000 && n < 6500000, s"northing $n")
      val (lat2, lon2) = Geo.utm19sInverse(e, n)
      assert(math.abs(lat2 - lat) < 1e-8, s"lat $lat → $lat2")
      assert(math.abs(lon2 - lon) < 1e-8, s"lon $lon → $lon2")
    }
    // scale at the central meridian is k0: 1° of northing at lon0 ≈ k0·meridian arc
    val (_, n1) = Geo.utm19sForward(-33.0, -69.0)
    val (_, n2) = Geo.utm19sForward(-34.0, -69.0)
    val arc = n1 - n2  // ~110,900 m per degree at these latitudes
    assert(arc > 110500 && arc < 111300, s"meridian arc $arc")
  }

  test("Mercator → WGS84 closed form inverts known anchor points") {
    val df = Seq((0.0, 0.0), (111319.49079327357, 111325.1428663851))
      .toDF("x", "y")
      .select(Geo.mercatorToLon(col("x")).as("lon"), Geo.mercatorToLat(col("y")).as("lat"))
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0)) < 1e-9 && math.abs(rows(0).getDouble(1)) < 1e-9)
    // x of 1° lon = 111319.49…; y of 1° lat (spherical web-mercator) = 111325.14…
    assert(math.abs(rows(1).getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(rows(1).getDouble(1) - 1.0) < 1e-6)
  }

  test("Temporal.asOfJoin picks the latest right row at-or-before each left time") {
    val clicks = Seq((1L, "u1", 100L), (2L, "u1", 250L), (3L, "u1", 50L), (4L, "u2", 500L))
      .toDF("event_id", "user_id", "s")
    val purchases = Seq(("u1", 100L, 10.0), ("u1", 200L, 20.0), ("u2", 600L, 30.0))
      .toDF("user_id", "s", "pvalue")
    val got = graft.operators.Temporal.asOfJoin(clicks, purchases, "user_id", "s", "s", Seq("pvalue"))
      .select(col("event_id"), col("_match._rt").as("ps"), col("_match.pvalue"))
      .as[(Long, Long, Double)].collect().toSet
    // click@100 matches purchase@100 (inclusive); click@250 → purchase@200;
    // click@50 has no earlier purchase (dropped); u2 click@500 precedes its purchase (dropped)
    assert(got === Set((1L, 100L, 10.0), (2L, 200L, 20.0)))
  }

  test("DotProduct codegen expression equals composed zip_with/aggregate fold") {
    val e = Tables(spark, sf, "embeddings").limit(100)
    val pairs = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .filter(col("ia") < col("ib")).limit(2000)
    val diff = pairs.select(
      graft.functions.Vectors.dot(col("va"), col("vb")).as("fused"),
      ComposedVectors.dot(col("va"), col("vb")).as("composed"))
      .filter(col("fused") =!= col("composed")).count()
    assert(diff === 0)
    val sql = spark.sql(
      "SELECT dot_product(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d")
      .collect()(0).getDouble(0)
    assert(sql === 6.0)
  }

  test("partitioned parquet writes prune partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_").toFile
    dir.deleteOnExit()
    Tables(spark, sf, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
      .write.partitionBy("ship_year").mode("overwrite").parquet(dir.getPath)
    val read = spark.read.parquet(dir.getPath).filter(col("ship_year") === 1995)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ship_year"), plan.take(1500))
    assert(read.count() > 0)
  }

  test("dynamic partition pruning: a filtered dim prunes event-day partitions at runtime") {
    // SURVEY §4 leans on DPP once facts are date-partitioned; this
    // proves the engine's session config actually triggers it: events
    // written partitioned by day, joined to a filtered dim on the
    // partition column → the scan's PartitionFilters must carry a
    // runtime dynamicpruning subquery, not read all days.
    val base = java.nio.file.Files.createTempDirectory("graft_dpp_").toFile
    base.deleteOnExit()
    val ev = Tables.withEpochDay(Tables(spark, sf, "events"))
    ev.write.partitionBy("day").mode("overwrite").parquet(s"$base/events_by_day")
    val facts = spark.read.parquet(s"$base/events_by_day")
    // dim table on disk (a filter on a literal one-day dim): stats make
    // it broadcastable, the precondition for DPP's reuse-broadcast path
    ev.select("day").distinct().write.mode("overwrite").parquet(s"$base/days")
    val oneDay = ev.select(min(col("day"))).head().getLong(0)
    val dim = spark.read.parquet(s"$base/days").filter(col("day") === oneDay)
    val q = facts.join(dim, "day").groupBy("event_type").count()
    assert(q.count() > 0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(2000))
    // static single-day query prunes too (PartitionFilters on the scan)
    val statics = facts.filter(col("day") === oneDay)
    val sPlan = statics.queryExecution.executedPlan.toString
    assert(sPlan.contains("PartitionFilters: [isnotnull(day"), sPlan.take(1500))
  }

  test("writer file-size control: maxRecordsPerFile splits oversized partitions") {
    // the small-files/huge-files hygiene knob for 100 TB table layout:
    // one fat task still emits bounded parquet files
    val dir = java.nio.file.Files.createTempDirectory("graft_mrpf_").toFile
    dir.deleteOnExit()
    val path = s"$dir/t"
    spark.range(6000).coalesce(1)
      .write.option("maxRecordsPerFile", "1000").mode("overwrite").parquet(path)
    val files = new java.io.File(path).listFiles
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length === 6, files.map(_.getName).mkString(","))
    assert(spark.read.parquet(path).count() === 6000)
  }

  test("AQE splits a skewed sort-merge join partition at runtime (skew=true)") {
    // the runtime half of the skew story (Skew.saltedJoin is the
    // explicit half): one key holding half the fact rows must trigger
    // AQE's OptimizeSkewedJoin under cluster-realistic thresholds,
    // proving the session config leaves the optimization reachable
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val big = spark.range(100000).select(
        when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
        concat(lit("padpadpadpadpadpad"), col("id")).as("pad"))
      val small = spark.range(1000).select(col("id").as("k"), lit("v").as("v"))
      val j = big.join(small, "k")
      // collect THIS df so AQE finalizes THIS plan (count() builds another)
      assert(j.collect().length === 50500)   // key 0: 50k dups + 500 odd ids < 1000
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(3000))
    }
  }

  test("overwritePartitions replaces only the written partitions (dynamic mode)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dpo_").toFile
    base.deleteOnExit()
    val path = s"$base/t"
    val day1 = Seq((1L, "a", "d1"), (2L, "b", "d1")).toDF("id", "v", "day")
    val day2 = Seq((3L, "c", "d2")).toDF("id", "v", "day")
    graft.pipelines.IngestionJob.overwritePartitions(
      day1.unionByName(day2), path, Seq("day"))
    // re-load day2 only, with different content — day1 must survive
    val day2b = Seq((30L, "cc", "d2"), (31L, "dd", "d2")).toDF("id", "v", "day")
    graft.pipelines.IngestionJob.overwritePartitions(day2b, path, Seq("day"))
    val got = spark.read.parquet(path).select("id", "day")
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "d1"), (2L, "d1"), (30L, "d2"), (31L, "d2")))
    // the option is write-scoped: the session default (static) is intact,
    // so an unrelated full overwrite still truncates
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .equalsIgnoreCase("static"))
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // the in-memory catalog forgets tables across JVMs but the warehouse
    // dirs persist — clear them or saveAsTable hits LOCATION_ALREADY_EXISTS
    for (t <- Seq("b_orders", "b_lineitem")) {
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles.foreach(rm)
          f.delete()
        }
        rm(dir)
      }
    }
    Tables(spark, sf, "orders").write.bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    Tables(spark, sf, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // force the sort-merge path (the tiny test tables would broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        .withColumn("x", col("o_totalprice") + col("l_extendedprice"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // co-bucketed join: SortMergeJoin with NO Exchange on either side
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("useApprox auto-dispatch: exact at sf0.01, sketch on the 10x replica set") {
    import graft.operators.Profile
    // sf0.01 lineitem per l_returnflag ≈ 20k rows/group — small enough
    // for the exact arm's per-group value buffer; a 10× replica set
    // (~200k/group) crosses the bound and must take the sketch arm
    val li = Tables(spark, "/root/testdata/sf0.01", "lineitem")
    val bound = 100000L
    assert(!Profile.useApprox(li, Seq("l_returnflag"), bound))
    val x10 = (1 to 10).map(_ => li).reduce(_ unionAll _)
    assert(Profile.useApprox(x10, Seq("l_returnflag"), bound))
    // library default bound: sf0.01 stays exact
    assert(!Profile.useApprox(li, Seq("l_returnflag")))
    // groupCols empty = one global group: rows alone decide
    assert(Profile.useApprox(x10, Nil, bound))
    assert(!Profile.useApprox(li.limit(10), Nil, bound))
    // the auto wrappers reproduce the exact arm bit-for-bit when the
    // probe picks it (same data, same bounds join) — q_mad_outliers /
    // q_winsorize oracles are untouched by the dispatch existing
    // multiset compare: (l_orderkey, l_linenumber) is NOT unique in the
    // synthetic lineitem, so a sort on it isn't total and tied rows can
    // interleave differently between the two collects
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("l_orderkey", "l_linenumber", "l_quantity",
          "_med", "_mad", "is_outlier")
        .collect().map(_.toString).sorted.toSeq
    val viaAuto = rows(Profile.madOutliers(li, "l_quantity",
      Seq("l_returnflag"), k = 1.5, arm = Profile.Arm.Auto(bound)))
    val viaExact = rows(Profile.madOutliers(li, "l_quantity",
      Seq("l_returnflag"), k = 1.5))
    assert(viaAuto === viaExact)
    // and on the big side the wrappers really swap the arm: the plan
    // carries the KLL sketch aggregate (the r14 port — GK's per-update
    // constant made the sketch arm slower than exact), and builds the
    // sketch ONCE (both winsorize bounds read the same agg output)
    val bigPlan = Profile.winsorize(x10, "l_extendedprice",
      Seq("l_returnflag"), lo = 0.05, hi = 0.95, arm = Profile.Arm.Auto(bound))
      .queryExecution.optimizedPlan.toString
    assert(bigPlan.contains("kll_sketch_agg"), bigPlan.take(1500))
    assert("kll_sketch_agg".r.findAllIn(bigPlan).size === 1, bigPlan.take(1500))
    assert(!bigPlan.contains("percentile_approx"), bigPlan.take(1500))
    val smallPlan = Profile.winsorize(li, "l_extendedprice",
      Seq("l_returnflag"), lo = 0.05, hi = 0.95, arm = Profile.Arm.Auto(bound))
      .queryExecution.optimizedPlan.toString
    assert(!smallPlan.contains("kll_sketch_agg"), smallPlan.take(1500))
  }

  test("useApprox reads plan statistics before paying the probe job") {
    import graft.operators.Profile
    // a LIMIT carries rowCount in its plan stats even in size-only
    // mode: the dispatch must decide from stats alone, with ZERO
    // Spark jobs — at 100 TB an avoidable probe scan per dispatch
    // call is a real cost (VERDICT r13 item 4)
    val li = Tables(spark, "/root/testdata/sf0.01", "lineitem")
    // job-count snapshot via the public status tracker (the listener
    // bus is private[spark]); ungrouped jobs cover everything here
    def jobs(): Int =
      spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val before = jobs()
    // rowCount = 10 <= bound: false for ANY grouping without a probe
    // (even a single group cannot exceed the bound)
    assert(!Profile.useApprox(li.limit(10), Nil, 1000L))
    assert(!Profile.useApprox(li.limit(10), Seq("l_returnflag"), 1000L))
    // rowCount above the bound with no group columns: true, still
    // stats-only (one global group of rowCount rows)
    // (range is a rowCount-bearing leaf; no renaming Project on top,
    // which the size-only stats visitor would strip rowCount through)
    assert(Profile.useApprox(spark.range(5000).toDF(), Nil, 1000L))
    assert(jobs() === before, s"stats-bearing dispatch ran ${jobs() - before} jobs")
    // stats-less input (parquet scan: size-only, no rowCount) still
    // probes — the existing dispatch behavior, now the fallback
    assert(!Profile.useApprox(li, Seq("l_returnflag"), 100000L))
    assert(jobs() > before)
  }

  test("useApprox: ANALYZEd column stats drive the grouped decision with no probe job") {
    import graft.operators.Profile
    // catalog row + column stats (the CBO path a production warehouse
    // has): rows / distinct-group product decides the grouped case
    // from the plan alone — the attributeStats branch of the r14
    // stats-first dispatch
    // a leftover warehouse dir from a previous JVM is not in this
    // session's catalog, and CTAS refuses to adopt it — clear both
    spark.sql("DROP TABLE IF EXISTS ua_lineitem")
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(wipe)); f.delete(); ()
    }
    wipe(new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "ua_lineitem"))
    Tables(spark, "/root/testdata/sf0.01", "lineitem")
      .select("l_returnflag", "l_quantity")
      .write.mode("overwrite").saveAsTable("ua_lineitem")
    spark.sql("ANALYZE TABLE ua_lineitem COMPUTE STATISTICS FOR COLUMNS l_returnflag")
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val t = spark.table("ua_lineitem")
      val n = t.count() // ~60k rows, 3 flags → ~20k rows/group
      def jobs(): Int =
        spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      val before = jobs()
      assert(Profile.useApprox(t, Seq("l_returnflag"), n / 3 / 10))
      assert(!Profile.useApprox(t, Seq("l_returnflag"), n))
      assert(jobs() === before,
        s"stats-bearing grouped dispatch ran ${jobs() - before} jobs")
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("useApprox is skew-aware: a hot group past the bound dispatches approx despite a tiny average") {
    import graft.operators.Profile
    val bound = 1000L
    // 99 groups of 100 rows + ONE group of 10·bound rows (avg ≈ 199):
    // the r14 average-based dispatch chose the exact arm here — whose
    // single-reducer buffer on the hot group is the 100 TB failure
    // mode the dispatch exists to avoid (r14 VERDICT item 3). The
    // Projects strip the ranges' rowCount, so this exercises the probe.
    val skewed = spark.range(9900).select((col("id") % 99).as("g"))
      .unionAll(spark.range(10000).select(lit(999L).as("g")))
    assert(Profile.useApprox(skewed, Seq("g"), bound))
    // same shape minus the hot group: the exact arm stays chosen
    val even = spark.range(9900).select((col("id") % 99).as("g"))
    assert(!Profile.useApprox(even, Seq("g"), bound))
    // empty input: the probe's max() is NULL → exact (nothing buffers)
    assert(!Profile.useApprox(
      even.where(col("g") === lit(-1L)), Seq("g"), bound))
  }

  test("useApprox: ANALYZEd histograms decide the skewed case with no probe job") {
    import graft.operators.Profile
    spark.sql("DROP TABLE IF EXISTS ua_skew")
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(wipe)); f.delete(); ()
    }
    wipe(new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "ua_skew"))
    // hot key 1: 50k rows; keys 2..101: 1.5k rows each → avg group ≈
    // 1,980 over n = 200k (the spread keys are wide enough that the
    // ceiling-decided bound below clears the r16 2× safety margin
    // while staying under the table's rowCount)
    spark.range(50000).selectExpr("1L AS k", "id % 7 AS j")
      .unionAll(spark.range(150000).selectExpr("2 + id % 100 AS k", "id % 7 AS j"))
      .write.mode("overwrite").saveAsTable("ua_skew")
    val prevH = spark.conf.get("spark.sql.statistics.histogram.enabled")
    val prevC = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
      spark.sql("ANALYZE TABLE ua_skew COMPUTE STATISTICS FOR COLUMNS k, j")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val t = spark.table("ua_skew")
      def jobs(): Int =
        spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      val before = jobs()
      // the average (~2k) sits far under the bound, but the equi-height
      // histogram shows key 1 owns ≥ ~49.6k rows (full single-value
      // bins) → sketch arm, zero jobs; the r14 dispatch said false here
      assert(Profile.useApprox(t, Seq("k"), 10000L))
      // and the ceiling direction: no key can exceed provenMax +
      // 2·height ≈ 51.2k, so at 110k — which clears the 2× safety
      // margin the r16 dispatch demands before trusting an estimated
      // histogram with the fragile arm — the exact arm is chosen: a
      // skew-checked false, still zero jobs (the table's 200k rowCount
      // keeps this out of the n ≤ bound shortcut)
      assert(!Profile.useApprox(t, Seq("k"), 110000L))
      // multi-column grouping: every (k, j) group is a subset of its k
      // slice, so k's ceiling caps all groups — decided without the
      // correlation-blind distinct-count product (101·7 = 707 "groups")
      assert(!Profile.useApprox(t, Seq("k", "j"), 110000L))
      // stats also pick the sketch arm's EXECUTION STRATEGY: j has 7
      // ANALYZEd distinct values, so the Auto face flips the weighted
      // pre-aggregated path on by itself; k (101 values) also
      // qualifies under the 4096 default, a never-ANALYZEd parquet
      // scan does not
      assert(Profile.lowCardinality(t, "j"))
      assert(!Profile.lowCardinality(t, "j", maxValues = 3L))
      // every decision above — dispatch AND strategy — was stats-only
      assert(jobs() === before,
        s"histogram dispatch ran ${jobs() - before} jobs")
      // a never-ANALYZEd parquet scan carries no column stats → false
      // (outside the jobs window: the table READ lists files in a job)
      assert(!Profile.lowCardinality(
        Tables(spark, "/root/testdata/sf0.01", "lineitem"), "l_quantity"))
      // the Auto face then flips the weighted path on by itself (the
      // arm's construction is allowed to run its counts checkpoint —
      // that is the operator working, not the dispatch probing)
      val autoPlan = Profile.madOutliers(t, "j", Seq("k"),
          k = 1.5, arm = Profile.Arm.Auto(10000L))
        .queryExecution.optimizedPlan.toString
      assert(autoPlan.contains("kll_sketch_weighted_agg"), autoPlan.take(1200))
    } finally {
      spark.conf.set("spark.sql.statistics.histogram.enabled", prevH)
      spark.conf.set("spark.sql.cbo.enabled", prevC)
    }
  }

  test("stats dispatch fires on the contract corpus itself via Tables.ensureStats") {
    import graft.operators.Profile
    // r16: before ensureStats the bench corpus was raw parquet with no
    // catalog stats, so the zero-job CBO paths only ever ran on test
    // fixtures. This registers + ANALYZEs the REAL lineitem (same call
    // the q_*_auto contract queries make) and proves the dispatch and
    // the strategy pick are stats-only on it.
    val lt = Tables.ensureStats(spark, "/root/testdata/sf0.01", "lineitem",
      Seq("l_returnflag", "l_quantity", "l_extendedprice"))
    val t = spark.table(lt)
    def jobs(): Int =
      spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val before = jobs()
    // ~60k rows, 3 flags → ~20k rows/group: the distinct-product lower
    // bound proves a hot group at 2k, the rowCount shortcut proves
    // safety at 100k — both from the plan alone
    assert(Profile.useApprox(t, Seq("l_returnflag"), 2000L))
    assert(!Profile.useApprox(t, Seq("l_returnflag"), 100000L))
    // strategy pick: l_quantity is ~50 ANALYZEd distinct values → the
    // weighted pre-aggregation qualifies; l_extendedprice (~tens of
    // thousands) must NOT
    assert(Profile.lowCardinality(t, "l_quantity"))
    assert(!Profile.lowCardinality(t, "l_extendedprice"))
    assert(jobs() === before,
      s"contract-corpus stats dispatch ran ${jobs() - before} jobs")
    // and the Auto face composes both: sketch arm + weighted preAgg,
    // picked from stats alone on the benched table
    val autoPlan = Profile.madOutliers(t, "l_quantity", Seq("l_returnflag"),
        k = 1.5, arm = Profile.Arm.Auto(2000L))
      .queryExecution.optimizedPlan.toString
    assert(autoPlan.contains("kll_sketch_weighted_agg"), autoPlan.take(1200))
    // the ungrouped face dispatches on table size and picks the same
    // weighted strategy (r16 — the Auto family's third member)
    val edPlan = Profile.equidepth(t, "l_quantity", bins = 4,
        arm = Profile.Arm.Auto(2000L))
      .queryExecution.optimizedPlan.toString
    assert(edPlan.contains("kll_sketch_weighted_agg"), edPlan.take(1200))
    // and under a bound the table can't exceed, the exact arm
    assert(!Profile.equidepth(t, "l_quantity", bins = 4,
        arm = Profile.Arm.Auto(100000L))
      .queryExecution.optimizedPlan.toString.contains("kll_sketch"))
    // a second call reuses the session's catalog entry (no re-ANALYZE)
    assert(Tables.ensureStats(spark, "/root/testdata/sf0.01", "lineitem",
      Seq("l_returnflag", "l_quantity", "l_extendedprice")) === lt)
  }

  test("useApprox: a mostly-NULL grouping column cannot vouch for the exact arm") {
    import graft.operators.Profile
    // Histograms and distinctCount describe only NON-NULL values, but
    // groupBy gives null keys their own group: 50k null rows + 100
    // spread keys of 50 rows each. The non-null distribution is tame
    // (ceiling ≈ 90 rows), so the pre-r16 dispatch decided `false`
    // from the histogram — and handed the 50k-row null group to the
    // exact arm's single-reducer buffer. nullCount is an exact ANALYZE
    // count: at bound 10k it alone proves a hot group → true, zero jobs.
    spark.sql("DROP TABLE IF EXISTS ua_nulls")
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(wipe)); f.delete(); ()
    }
    wipe(new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"), "ua_nulls"))
    spark.range(50000).selectExpr("CAST(NULL AS BIGINT) AS k")
      .unionAll(spark.range(5000).selectExpr("1 + id % 100 AS k"))
      .write.mode("overwrite").saveAsTable("ua_nulls")
    val prevH = spark.conf.get("spark.sql.statistics.histogram.enabled")
    val prevC = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
      spark.sql("ANALYZE TABLE ua_nulls COMPUTE STATISTICS FOR COLUMNS k")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val t = spark.table("ua_nulls")
      def jobs(): Int =
        spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      val before = jobs()
      assert(Profile.useApprox(t, Seq("k"), 10000L),
        "a 50k-row null group must dispatch the sketch arm")
      // rowCount shortcut still rules when even one group can't exceed
      // the bound (n = 55k ≤ 60k) — nulls included, so this stays sound
      assert(!Profile.useApprox(t, Seq("k"), 60000L))
      assert(jobs() === before,
        s"null-aware dispatch ran ${jobs() - before} jobs")
    } finally {
      spark.conf.set("spark.sql.statistics.histogram.enabled", prevH)
      spark.conf.set("spark.sql.cbo.enabled", prevC)
    }
  }

  test("stale stats: engine-visible growth after ANALYZE still dispatches safe") {
    import graft.operators.Profile
    // The staleness story the dispatchers rest on (r16 verdict item 5).
    // Tables.ensureStats ANALYZEs once per session; between ANALYZE
    // runs the stats go stale as data lands. Two growth shapes:
    //
    // 1. ENGINE-VISIBLE growth (INSERT INTO through the catalog):
    //    Spark invalidates the table's catalog stats on data-changing
    //    commands (CommandUtils.updateTableStats with size-autoUpdate
    //    off drops them), so rowCount disappears and useApprox falls
    //    back to the probe — which measures the REAL max group and
    //    lands on the safe (sketch) arm. Stale stats cannot pick the
    //    fragile exact arm after an in-band append.
    // 2. OUT-OF-BAND growth (files dropped into the directory behind
    //    the catalog's back): the catalog never hears about it, stats
    //    stay stale-small, and the dispatch KEEPS the exact arm — the
    //    documented unsupported shape. The deployment contract
    //    (COVERAGE §2.4) is that ingest either goes through the engine
    //    or is followed by re-ANALYZE; the 2× histSafetyMargin guards
    //    estimate error, not an unbounded staleness window.
    spark.sql("DROP TABLE IF EXISTS stale_t")
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(wipe)); f.delete(); ()
    }
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    wipe(new java.io.File(wh, "stale_t"))
    spark.range(1000).selectExpr("id % 5 AS k", "id AS v")
      .write.mode("overwrite").saveAsTable("stale_t")
    val prevC = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.sql("ANALYZE TABLE stale_t COMPUTE STATISTICS FOR COLUMNS k, v")
      def jobs(): Int =
        spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      val before = jobs()
      // fresh stats: 1000 rows ≤ bound → exact arm, zero jobs
      assert(!Profile.useApprox(spark.table("stale_t"), Seq("k"), 10000L))
      assert(jobs() === before, "fresh-stats dispatch must be zero-job")
      // grow 50×, hot group: 50k extra rows all in k=0
      spark.sql("INSERT INTO stale_t SELECT 0 AS k, id AS v FROM range(50000)")
      val grown = spark.table("stale_t")
      // premise check: the insert really did invalidate the stats —
      // if a Spark upgrade changes this, the safety story changes too
      assert(grown.queryExecution.optimizedPlan.stats.rowCount.isEmpty,
        "INSERT INTO no longer invalidates catalog stats: re-audit useApprox staleness")
      // no stats → probe path measures the real 50k-row hot group
      assert(Profile.useApprox(grown, Seq("k"), 10000L),
        "post-insert dispatch must land on the safe sketch arm")
    } finally spark.conf.set("spark.sql.cbo.enabled", prevC)
  }

  test("stale stats: out-of-band growth is invisible — the documented re-ANALYZE contract") {
    import graft.operators.Profile
    spark.sql("DROP TABLE IF EXISTS stale_oob")
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(wipe)); f.delete(); ()
    }
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    wipe(new java.io.File(wh, "stale_oob"))
    spark.range(1000).selectExpr("id % 5 AS k", "id AS v")
      .write.mode("overwrite").saveAsTable("stale_oob")
    val prevC = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.sql("ANALYZE TABLE stale_oob COMPUTE STATISTICS FOR COLUMNS k, v")
      // drop 50k hot-group rows into the table directory BEHIND the
      // catalog (what a foreign writer does), then refresh the file
      // listing so the scan sees them — the catalog stats do NOT
      spark.range(50000).selectExpr("CAST(0 AS BIGINT) AS k", "id AS v")
        .write.mode("append").parquet(s"$wh/stale_oob")
      spark.catalog.refreshTable("stale_oob")
      val grown = spark.table("stale_oob")
      assert(grown.count() === 51000L)
      // the dispatch still believes the stale 1000-row stats and keeps
      // the exact arm: THIS assert documents the hazard the deployment
      // contract exists for (out-of-band ingest must re-ANALYZE). If
      // it ever starts failing, Spark began auto-detecting growth and
      // the COVERAGE note should be revisited.
      assert(grown.queryExecution.optimizedPlan.stats.rowCount
        .contains(BigInt(1000)), "expected stale catalog rowCount")
      assert(!Profile.useApprox(grown, Seq("k"), 10000L),
        "stale stats are expected to (wrongly) keep the exact arm here")
      // re-ANALYZE — the contract's cadence step — repairs the dispatch
      spark.sql("ANALYZE TABLE stale_oob COMPUTE STATISTICS FOR COLUMNS k, v")
      assert(Profile.useApprox(spark.table("stale_oob"), Seq("k"), 10000L),
        "re-ANALYZE must restore the safe dispatch")
    } finally spark.conf.set("spark.sql.cbo.enabled", prevC)
  }

  test("TopKSketch (Space-Saving): exact when capacity covers, bounded and merge-safe when not") {
    import spark.implicits._
    import graft.functions.TopKSketch
    // Zipf-ish stream: token i appears 2000/i times, i = 1..40
    val rows = (1 to 40).flatMap(i => Seq.fill(2000 / i)(s"tok$i"))
    val n = rows.length
    val df = spark.createDataset(new scala.util.Random(42).shuffle(rows)).toDF("t")
      .repartition(7)   // forces the partial-buffer merge path
    val exact = df.groupBy("t").count().as[(String, Long)].collect().toMap
    // capacity >= distinct → exact, regardless of partitioning
    val full = df.agg(TopKSketch(col("t"), k = 40, capacity = 64).as("sk"))
      .select(inline(col("sk"))).as[(String, Long)].collect()
    assert(full.toMap === exact)
    // tight capacity: counts are upper bounds within n/capacity, and
    // every true heavy hitter (freq > n/capacity) is present
    val cap = 16
    val sketched = df.agg(TopKSketch(col("t"), k = 10, capacity = cap).as("sk"))
      .select(inline(col("sk"))).as[(String, Long)].collect().toMap
    val bound = n.toDouble / cap
    sketched.foreach { case (tok, c) =>
      val truth = exact.getOrElse(tok, 0L)
      assert(c >= truth && c <= truth + 2 * bound, s"$tok: $c vs $truth (bound $bound)")
    }
    exact.filter(_._2 > 2 * bound).keys.foreach { hh =>
      assert(sketched.contains(hh), s"heavy hitter $hh missing")
    }
  }

  test("sketch aggregates: HLL++ count-distinct and approx percentile within error bounds") {
    import spark.implicits._
    // the 100 TB path for distinct counts / quantiles: fixed-size
    // sketches with map-side partial merge instead of exact shuffles
    val li = Tables(spark, sf, "lineitem")
    val (approx, exact) = li.agg(
      approx_count_distinct(col("l_partkey"), rsd = 0.02).as("a"),
      countDistinct(col("l_partkey")).as("e"))
      .as[(Long, Long)].head()
    val rel = math.abs(approx - exact).toDouble / exact
    assert(rel <= 0.05, s"HLL++ rel error $rel > 5% ($approx vs $exact)")
    val (ap, ep) = li.agg(
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("a"),
      expr("percentile(l_extendedprice, 0.5)").as("e"))
      .as[(Double, Double)].head()
    assert(math.abs(ap - ep) / ep <= 0.05, s"approx_percentile off: $ap vs $ep")
  }

  test("event-time helpers adapt to all three ts dtypes (nanos-long, timestamp, timestamp_ntz)") {
    // the driver's testdata generator has shipped events.ts as parquet
    // TIMESTAMP(NANOS) (reads as long nanos under nanosAsLong) and as
    // timestamp[us] (reads as TIMESTAMP_NTZ); a regeneration mid-round
    // once flipped the dtype under the engine. Pin the contract: every
    // helper must produce identical values on all physical forms.
    val secs = Seq(1704067200L, 1704070800L, 1704153600L) // spans 2 days
    val base = java.nio.file.Files.createTempDirectory("graft_tsdtype_").toFile
    base.deleteOnExit()
    secs.zipWithIndex.map { case (sec, i) => (i.toLong, sec * 1000000000L + 123456789L) }
      .toDF("event_id", "ts").write.parquet(s"$base/nanos")
    secs.zipWithIndex.map { case (sec, i) =>
      (i.toLong, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec, 123456000L)))
    }.toDF("event_id", "ts").write.parquet(s"$base/tstz")
    secs.zipWithIndex.map { case (sec, i) =>
      (i.toLong, java.time.LocalDateTime.ofEpochSecond(sec, 123456000, java.time.ZoneOffset.UTC))
    }.toDF("event_id", "ts").write.parquet(s"$base/ntz")
    val dfs = Seq("nanos", "tstz", "ntz").map(d => spark.read.parquet(s"$base/$d"))
    // the fixture really covers three distinct physical dtypes
    assert(dfs.map(_.schema("ts").dataType).distinct.length === 3, dfs.map(_.schema("ts").dataType))
    val results = dfs.map { df =>
      Tables.withEpochDay(Tables.withEpochSeconds(df))
        .withColumn("us", unix_micros(Tables.eventTime(df)))
        .select("event_id", "s", "day", "us")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    }
    assert(results(0) === results(1))
    assert(results(0) === results(2))
    // and the values are right in absolute terms, not just consistent
    assert(results(0).map(_._2) === secs)
    assert(results(0).map(_._3) === secs.map(_ / 86400))
    assert(results(0).map(_._4) === secs.map(_ * 1000000L + 123456L))
  }

  test("eventsByDay rebuilds the partitioned copy after an in-place source regeneration") {
    // round 8's testdata regeneration rewrote events.parquet's part
    // files in place; the cache key is a fingerprint of the LISTED data
    // files, so a rewrite must produce a fresh partitioned copy and
    // sweep the stale one (same SOURCE marker)
    val sfDir = java.nio.file.Files.createTempDirectory("graft_ebd_").toFile
    sfDir.deleteOnExit()
    def writeEvents(n: Int): Unit =
      (0 until n).map { i =>
        (i.toLong, java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(1704067200L + i * 90000L)), // ~1 day apart
          i.toLong % 3, "click", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$sfDir/events.parquet")
    writeEvents(4)
    val (facts1, _) = Tables.eventsByDay(spark, sfDir.getPath)
    assert(spark.read.parquet(facts1).count() === 4)
    // in-place regeneration: same path, different content
    writeEvents(7)
    val (facts2, _) = Tables.eventsByDay(spark, sfDir.getPath)
    assert(facts2 !== facts1, "regenerated source must produce a fresh cache dir")
    assert(spark.read.parquet(facts2).count() === 7)
    // the superseded cache of the same source was swept
    assert(!new java.io.File(facts1).exists())
  }
}
