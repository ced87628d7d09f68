package graft

import graft.operators.{Nearest, Regression, Relational, Windows}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

/** Algebraic invariants (SURVEY §5.4) checked over seeded-random
  * inputs — property-style, but driven by a plain loop so only
  * scalatest is needed (each case runs Spark jobs; 5 cases/property). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260812L)
  private def cases[A](n: Int)(gen: => A)(body: A => Unit): Unit =
    (1 to n).foreach(_ => body(gen))

  test("W1 interpolation is identity on null-free input and total when any value present") {
    cases(5)(List.fill(12)(if (rnd.nextBoolean()) Some(rnd.nextDouble() * 100 - 50) else None)) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => ("g", i, v) }.toDF("g", "ord", "v")
      val out = Windows.interpolateLinear(df, Seq("g"), Seq(col("ord")), "v")
        .orderBy("ord").select("v_filled").as[Option[Double]].collect()
      if (vs.forall(_.isDefined)) assert(out.toList === vs)             // identity
      else if (vs.exists(_.isDefined)) assert(out.forall(_.isDefined)) // total
      else assert(out.forall(_.isEmpty))                               // all-null stays null
    }
  }

  test("headline results are bit-identical across shuffle-partition layouts") {
    // the engine's auditability claim: re-partitioning (a 4-core dev
    // box vs a 1000-executor cluster) must not change a single bit of
    // output — decimal-exact sums, centered closed forms, and fixed
    // fold orders are what buy this. Exercise the order-sensitive
    // queries under two very different initial shuffle widths.
    val names = Seq("q_a1_groupsum", "q_tpch_q1",
      "q_a9_stats", "q_a7_ols", "q_j3_gravity",
      "q_winsorize", "q_text_entropy", "q_profile",
      // round-5 operators whose determinism claim matters at scale:
      // median/MAD fences, window run-collapse, corpus line dedup,
      // IEEE-exact classifier logits, CDC classification
      "q_mad_outliers", "q_scd2", "q_dedup_lines", "q_quality_gate",
      "q_snapshot_diff")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def run(name: String, parts: String) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      SparkEntry.queries(name)(spark, sf).collect().toSeq
    }
    try names.foreach { n =>
      assert(run(n, "3") === run(n, "17"), s"$n differs across partitionings")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("global sorts order rows as a Scala sort on the total-order key, in place or not") {
    // rows: a unique id and three low-cardinality nullable keys, so the
    // sort keys tie and hold nulls; the id, last, makes the order total
    type Row4 = (Long, Option[Int], Option[String], Option[Long])
    case class Key(field: Int, asc: Boolean, nullsFirst: Boolean)
    val rowsGen = Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, for {
      a <- Gen.option(Gen.choose(-2, 2))
      b <- Gen.option(Gen.oneOf("", "a", "ab", "b"))
      c <- Gen.option(Gen.choose(-1L, 1L))
    } yield (a, b, c))).map(_.zipWithIndex.map { case ((a, b, c), i) => (i.toLong, a, b, c) })
    val keysGen = for {
      fields <- Gen.oneOf((1 to 3).flatMap(Seq(1, 2, 3).combinations(_).flatMap(_.permutations)))
      flags  <- Gen.listOfN(fields.size + 1, Gen.zip(Gen.oneOf(true, false), Gen.oneOf(true, false)))
    } yield (fields :+ 0).zip(flags).map { case (f, (asc, nf)) => Key(f, asc, nf) }
    // the input: 1-8 partitions from a round-robin shuffle (the rule
    // decides on its runtime size), from that many parquet files (one
    // split, or several small ones), or from an RDD (no size estimate)
    val inputGen = Gen.zip(Gen.choose(1, 8), Gen.oneOf("shuffle", "parquet", "rdd"))
    val names = Seq("id", "a", "b", "c")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sort_prop_").toFile
    /** The input, and whether it is a one-split scan (one small file). */
    def input(rows: List[(Long, Option[Int], Option[String], Option[Long])], parts: Int,
              shape: String): (DataFrame, Boolean) = {
      val local = rows.toDF(names: _*)
      shape match {
        case "shuffle" => (local.repartition(parts), false)
        case "parquet" =>
          val dir = java.nio.file.Files.createTempDirectory(tmp.toPath, "t").toFile
          local.repartition(parts).write.mode("overwrite").parquet(dir.getPath)
          (spark.read.parquet(dir.getPath), dir.listFiles.count(_.getName.endsWith(".parquet")) == 1)
        case "rdd" =>
          (spark.createDataFrame(spark.sparkContext.parallelize(rows, parts)).toDF(names: _*), false)
      }
    }
    def column(k: Key): Column = {
      val c = col(names(k.field))
      (k.asc, k.nullsFirst) match {
        case (true, true)   => c.asc_nulls_first
        case (true, false)  => c.asc_nulls_last
        case (false, true)  => c.desc_nulls_first
        case (false, false) => c.desc_nulls_last
      }
    }
    def cmp[T](x: Option[T], y: Option[T], k: Key)(implicit o: Ordering[T]): Int = (x, y) match {
      case (None, None)       => 0
      case (None, _)          => if (k.nullsFirst) -1 else 1
      case (_, None)          => if (k.nullsFirst) 1 else -1
      case (Some(p), Some(q)) => if (k.asc) o.compare(p, q) else o.compare(q, p)
    }
    def field(r: Row4, k: Key, other: Row4): Int = k.field match {
      case 0 => cmp(Some(r._1), Some(other._1), k)
      case 1 => cmp(r._2, other._2, k)
      case 2 => cmp(r._3, other._3, k)
      case 3 => cmp(r._4, other._4, k)
    }
    def scalaSort(rows: List[Row4], keys: Seq[Key]): Seq[Long] = rows.sortWith { (x, y) =>
      keys.iterator.map(field(x, _, y)).find(_ != 0).exists(_ < 0)
    }.map(_._1)
    // One SparkContext per JVM, so "local[1]" is its two effects on the
    // rule: one shuffle partition, and a default parallelism of 1 in the
    // coalescing bound (set through minPartitionNum). Above the bound, a
    // 1-byte partition size leaves only the one-split-scan arm.
    val layouts = Seq(
      "local[1]" -> Seq("spark.sql.shuffle.partitions" -> "1",
        "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "1"),
      "local[4]" -> Seq("spark.sql.shuffle.partitions" -> "4"))
    val bounds = Seq("below" -> Seq.empty,
      "above" -> Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1"))
    // SQLConf warns on every set that minPartitionNum is deprecated
    try QuietLogs("org.apache.spark.sql.internal.SQLConf")(
        for (aqe <- Seq(true, false); (layout, lc) <- layouts; (bound, bc) <- bounds) {
      val confs = (lc ++ bc) :+ ("spark.sql.adaptive.enabled" -> aqe.toString)
      val prop = Prop.forAllNoShrink(rowsGen, keysGen, inputGen) { case (rows, keys, (parts, shape)) =>
        withConfs(confs: _*) {
          val (in, oneSplit) = input(rows, parts, shape)
          val df = in.orderBy(keys.map(column): _*)
          val got = df.collect().map(_.getLong(0)).toSeq
          // the rule runs only under AQE (an RDD has no size estimate);
          // below the bound it takes every other input, above it only a
          // one-split scan. AQE plans an empty shuffle's result without
          // a sort, so empty inputs check the order only.
          val expected = aqe && shape != "rdd" && (bound == "below" || oneSplit)
          val placed = allOps(df.queryExecution.executedPlan).exists(_.isInstanceOf[CoalesceExec])
          Prop(got == scalaSort(rows, keys)) :| s"order: $keys over $parts $shape partitions" &&
            Prop(rows.isEmpty || placed == expected) :|
              s"in place: $placed, expected $expected ($parts $shape, one split: $oneSplit)"
        }
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(Seed(20261019L)).withWorkers(1), prop)
      assert(res.passed, s"aqe=$aqe $layout bound $bound: ${res.status}")
    }) finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("hammingPairs64 banding finds EXACTLY the brute-force pair set") {
    // the pigeonhole guarantee (any pair within maxHamming bits agrees
    // on >= 1 band) is load-bearing for SimHash AND image near-dup;
    // verify against brute force on adversarial-ish random sets: half
    // the sigs are small perturbations of shared bases, so the <=
    // threshold boundary is heavily exercised
    cases(4)((List.fill(8)(rnd.nextLong()), List.fill(24)(rnd.nextInt(64)))) {
      case (bases, flips) =>
        val sigs = bases.zipWithIndex.flatMap { case (b, i) =>
          val f = flips.drop(i * 3).take(3)
          Seq(b, b ^ f.map(1L << _).reduce(_ | _), b ^ (1L << f.head))
        }.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        val df = sigs.toDF("id", "sig")
        for (maxH <- Seq(1, 3, 7)) {
          val got = graft.operators.Dedup
            .hammingPairs64(df, "id", "sig", maxH, outA = "a", outB = "b")
            .as[(Long, Long, Int)].collect().toSet
          val want = (for {
            (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
            h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
          } yield (ia, ib, h)).toSet
          assert(got === want, s"maxHamming=$maxH")
        }
    }
  }

  test("A6 gravity row-normalization rows sum to 1 for any positive masses") {
    cases(3)(List.fill(6)(1L + rnd.nextInt(1000).toLong)) { masses =>
      val zones = masses.zipWithIndex.map { case (m, i) => (i, m) }.toDF("z", "m")
      val rows = Nearest.gravityFlows(zones, "z", "m",
        (o, d) => abs(o - d).cast("double")).collect()
      val sums = rows.groupBy(_.getInt(0)).values.map(_.map(_.getDouble(3)).sum)
      sums.foreach(s => assert(math.abs(s - 1.0) < 1e-4))
    }
  }

  test("A7 OLS recovers exact slope/intercept from noise-free lines") {
    cases(5)((rnd.nextDouble() * 200 - 100, rnd.nextDouble() * 2000 - 1000)) {
      case (slope, intercept) =>
        val df = (1 to 8).map(x => ("g", x, intercept + slope * x)).toDF("k", "x", "y")
        val r = Regression.olsPredict(df, Seq("k"), col("x"), col("y"), atX = 20)
          .select("slope", "intercept").as[(Double, Double)].head()
        assert(math.abs(r._1 - slope) < 1e-4, s"slope $slope got ${r._1}")
        assert(math.abs(r._2 - intercept) < 1e-2, s"intercept $intercept got ${r._2}")
    }
  }

  test("R1/R3 unpivot then pivot-count round-trips the cell count") {
    cases(3)(List.fill(8)(rnd.nextInt(4))) { ks =>
      val df = ks.zipWithIndex.map { case (k, i) => (i, 10.0 + k, 20.0 + k) }
        .toDF("id", "m1", "m2")
      val long = Relational.unpivot(df, Seq("id"), Seq("m1", "m2"), "metric", "val")
      assert(long.count() === df.count() * 2)
      val wide = Relational.pivotCount(long, "id", "metric", Seq("m1", "m2"))
      assert(wide.count() === df.count())
      assert(wide.agg(sum("m1"), sum("m2")).as[(Long, Long)].head() ===
        ((df.count(), df.count())))
    }
  }

  test("dedupLines is idempotent and never keeps a line twice across the corpus") {
    import graft.operators.Dedup
    cases(4)(List.fill(8)(List.fill(rnd.nextInt(4) + 1)(s"l${rnd.nextInt(6)}").mkString("\n"))) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = Dedup.dedupLines(docs, "doc_id", "text")
      val lines = once.select(explode(split(col("text"), "\n")).as("l"))
      // global uniqueness: each distinct line survives exactly once
      assert(lines.count() === lines.distinct().count())
      // idempotence: a second pass changes nothing
      val twice = Dedup.dedupLines(once.select("doc_id", "text"), "doc_id", "text")
      assert(twice.select("doc_id", "text").as[(Long, String)].collect().toSet ===
        once.select("doc_id", "text").as[(Long, String)].collect().toSet)
      // conservation: kept lines = distinct lines of the input
      val inputDistinct = docs.select(explode(split(col("text"), "\n")).as("l"))
        .distinct().count()
      assert(lines.count() === inputDistinct)
    }
  }

  test("scd2 intervals partition each key's timeline: contiguous, non-overlapping, one current") {
    import graft.operators.Temporal
    cases(4)(List.fill(12)((rnd.nextInt(3).toLong, rnd.nextInt(20).toLong,
      s"s${rnd.nextInt(3)}"))) { raw =>
      // distinct (k, t): equal timestamps would make run order arbitrary
      val log = raw.distinct.groupBy(r => (r._1, r._2)).values.map(_.head).toSeq
      val df = log.toDF("k", "t", "st")
      val got = Temporal.scd2(df, Seq("k"), "t", Seq(col("st")), Seq("st"))
        .select("k", "valid_from", "valid_to", "is_current")
        .as[(Long, Long, Option[Long], Boolean)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      got.foreach { case (k, ivs) =>
        val ts = log.filter(_._1 == k).map(_._2).sorted
        assert(ivs.head._2 === ts.head)                    // starts at first change
        assert(ivs.count(_._4) === 1 && ivs.last._4)       // exactly one current row
        assert(ivs.last._3.isEmpty)                        // open-ended
        ivs.sliding(2).filter(_.size == 2).foreach { case Array(a, b) =>
          assert(a._3.contains(b._2), s"key $k: gap/overlap between $a and $b")
        }
      }
    }
  }

  test("densify output size is exactly the sum of group spans; values survive on-grid") {
    import graft.operators.Temporal
    cases(4)(List.fill(10)((rnd.nextInt(3), rnd.nextInt(15).toLong))) { raw =>
      val pts = raw.distinct
      val df = pts.map { case (g, t) => (g, t, 1.0) }.toDF("g", "t", "v")
      val out = Temporal.densify(df, Seq("g"), "t")
      val bySpan = pts.groupBy(_._1).values.map { ps =>
        val ts = ps.map(_._2); ts.max - ts.min + 1
      }.sum
      assert(out.count() === bySpan)
      assert(out.filter(col("v").isNotNull).count() === pts.size)
    }
  }

  test("J2 nearestJoin always picks the global argmin") {
    cases(4)((List.fill(10)(rnd.nextDouble() * 100), List.fill(7)(rnd.nextDouble() * 100))) {
      case (ls, rs) =>
        val left = ls.zipWithIndex.map { case (x, i) => (i, x) }.toDF("lid", "lx")
        val right = rs.zipWithIndex.map { case (x, i) => (i, x) }.toDF("rid", "rx")
        val got = Nearest.nearestJoin(left, right, abs(col("lx") - col("rx")),
          Seq(col("rid")))
          .select("lid", "_dist").as[(Int, Double)].collect().toMap
        ls.zipWithIndex.foreach { case (x, i) =>
          val want = rs.map(r => math.abs(x - r)).min
          assert(math.abs(got(i) - want) < 1e-12)
        }
    }
  }
}
