package graft

import graft.functions.WeightedAvg

/** Property-style tests for the engine-free kernels (SURVEY.md §5.2) —
  * seeded random sampling (the scalatest↔scalacheck bridge isn't in the
  * offline dependency set, so properties are checked over 200 drawn cases). */
class PropertySpec extends SparkSpec {

  private val rnd = new scala.util.Random(42)
  private def vec(): Array[Double] = Array.fill(64)(rnd.nextDouble() * 20 - 10)

  test("DotProduct eval: commutative and Cauchy-Schwarz-bounded") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def lit(x: Array[Double]) =
      Literal.create(ArrayData.toArrayData(x), ArrayType(DoubleType))
    (1 to 200).foreach { _ =>
      val a = vec(); val b = vec()
      val ab = functions.DotProduct(lit(a), lit(b)).eval(null).asInstanceOf[Double]
      val ba = functions.DotProduct(lit(b), lit(a)).eval(null).asInstanceOf[Double]
      val aa = functions.DotProduct(lit(a), lit(a)).eval(null).asInstanceOf[Double]
      val bb = functions.DotProduct(lit(b), lit(b)).eval(null).asInstanceOf[Double]
      assert(ab == ba) // per-element products commute exactly; same fold order
      assert(ab * ab <= aa * bb * (1 + 1e-9))
    }
  }

  test("WeightedAvg: merge order never changes the exact buffer") {
    (1 to 200).foreach { _ =>
      val xs = List.fill(rnd.nextInt(40))((rnd.nextDouble() * 1e6, rnd.nextDouble() * 100 + 0.01))
      val seq = xs.foldLeft(WeightedAvg.zero)(WeightedAvg.reduce)
      val (l, r) = xs.splitAt(xs.length / 2)
      val merged = WeightedAvg.merge(
        l.foldLeft(WeightedAvg.zero)(WeightedAvg.reduce),
        r.foldLeft(WeightedAvg.zero)(WeightedAvg.reduce))
      assert(seq.sumXW.compareTo(merged.sumXW) == 0)
      assert(seq.sumW.compareTo(merged.sumW) == 0)
    }
  }

  test("quantization reconstruction error is bounded by one code step") {
    val dir = FixtureData.embDir(spark)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    ops.Pipeline.embedQuantize(spark, dir).collect().foreach { r =>
      val x = emb(r.getLong(0)).map(_.toDouble)
      val q = r.getString(4).split(",").map(_.toLong)
      val m = x.map(math.abs).max
      if (m > 0) {
        val step = m / 127.0
        x.zip(q).foreach { case (xi, qi) =>
          // floor quantization: qi*step <= xi < (qi+1)*step
          assert(math.abs(xi - qi * step) <= step * (1 + 1e-12),
            s"xi=$xi qi=$qi step=$step")
        }
      } else assert(q.forall(_ == 0L))
    }
  }

  test("pack_sequences bin boundaries follow the exclusive-prefix rule exactly") {
    // the first doc of bin i has exclusive prefix cumsum(bins 0..i-1), and
    // bin membership means that prefix lies in [512*i, 512*(i+1))
    val out = ops.Pipeline.packSequences(spark, sf("sf0.001")).collect()
    out.groupBy(_.getString(0)).foreach { case (_, bins) =>
      val sorted = bins.sortBy(_.getLong(1))
      // bins are contiguous: 0..n-1 with no gaps
      assert(sorted.map(_.getLong(1)).toSeq == (0L until sorted.length).toSeq)
      val sums = sorted.map(_.getLong(3))
      (1 until sorted.length).foreach { i =>
        val prefix = sums.take(i).sum
        assert(512L * i <= prefix && prefix < 512L * (i + 1),
          s"bin $i starts at prefix $prefix outside [${512L * i}, ${512L * (i + 1)})")
      }
    }
  }

  test("prefix-filtered jaccard equals brute force on random big-vocab corpora") {
    // The lossless-recall claim of the prefix-filter candidate path
    // (Dedup.ngramJaccardPairsPrefix), checked against an independent
    // set-algebra brute force over random corpora whose vocabulary (100
    // terms) forces the >63-token array path.
    import spark.implicits._
    val prnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_prop_pfx$trial").toString
      val docs: Seq[(Long, Set[String])] = (0 until 40).map { i =>
        val base = prnd.nextInt(80)
        val n = 5 + prnd.nextInt(12)
        // overlapping windows over a 100-term vocabulary → plenty of
        // qualifying near-dup pairs, plus random jitter
        val ts = (0 until n).map(j => f"t${(base + j + prnd.nextInt(3)) % 100}%03d").toSet
        (i.toLong, ts)
      }
      docs.map { case (id, ts) =>
        (id, ts.toSeq.sorted.mkString(" "), if (id % 2 == 0) "en" else "fr", "s", 1L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val expected = (for {
        (a, ta) <- docs; (b, tb) <- docs if a < b
        if (a % 2) == (b % 2) // same lang
        inter = (ta & tb).size
        if inter * 10 >= (ta.size + tb.size - inter) * 6
      } yield (a, b)).toSet
      val got = ops.Dedup.dedupNgramJaccard(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"trial $trial: missing ${expected -- got}, extra ${got -- expected}")
    }
  }

  test("PqArgMin eval equals the naive squared-L2 argmin on random codebooks") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    (1 to 200).foreach { _ =>
      val dim = 1 + rnd.nextInt(6)
      val k = 1 + rnd.nextInt(40)
      val offset = rnd.nextInt(4)
      val x = Array.fill(offset + dim)(rnd.nextDouble() * 4 - 2)
      val cb = Array.fill(k * dim)(rnd.nextDouble() * 4 - 2)
      // norms via the SAME left fold the production codepath uses
      val norms = Array.tabulate(k)(i =>
        (0 until dim).foldLeft(0.0)((a, j) => a + cb(i * dim + j) * cb(i * dim + j)))
      val got = functions.PqArgMin(
        Literal.create(ArrayData.toArrayData(x), ArrayType(DoubleType)),
        offset, cb.toIndexedSeq, norms.toIndexedSeq).eval(null).asInstanceOf[Int]
      // naive reference: true squared L2 over the slice, first-wins ties
      val naive = (0 until k).minBy { i =>
        (0 until dim).map(j => {
          val d = x(offset + j) - cb(i * dim + j); d * d
        }).sum
      }
      // the expression ranks by ||c||^2 - 2<x,c> (drops the constant
      // ||x||^2): same winner as true squared L2 up to fp tie noise —
      // compare the DISTANCES of the two winners instead of the indexes
      def dist(i: Int) =
        (0 until dim).map(j => { val d = x(offset + j) - cb(i * dim + j); d * d }).sum
      assert(math.abs(dist(got - 1) - dist(naive)) < 1e-9,
        s"dim=$dim k=$k got=${got - 1} naive=$naive")
    }
  }

  test("MERGE INTO is idempotent: re-merging the same source changes nothing") {
    val tmp = java.nio.file.Files.createTempFile("graft_cat_prop", ".json")
    java.nio.file.Files.delete(tmp)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = tmp.toString
    try {
      ops.Ddl.resetForTest()
      ops.Ddl.execute(spark,
        s"CREATE TABLE prop_m MAPPED BY '${sf("sf0.001")}/region.parquet' KEYS (r_regionkey)")
      val merge =
        """MERGE INTO prop_m USING (
          |  SELECT 2 AS r_regionkey, 'TWO' AS r_name
          |  UNION ALL SELECT 77, 'NEW'
          |) s ON s.r_regionkey = r_regionkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin
      spark.sql(merge)
      val once = spark.table("prop_m").orderBy("r_regionkey").collect().toSeq
      spark.sql(merge)
      val twice = spark.table("prop_m").orderBy("r_regionkey").collect().toSeq
      assert(once == twice)
      spark.sql("DROP TABLE prop_m")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
      java.nio.file.Files.deleteIfExists(tmp)
    }
  }

  test("approx_count_distinct within rsd tolerance of exact counts") {
    val dir = sf("sf0.001")
    val approx = ops.Relational.aggApproxDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ops.Relational.aggDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (flag, n) =>
      val a = approx(flag).toDouble
      assert(math.abs(a - n) / n < 0.15, s"$flag: approx $a vs exact $n")
    }
  }

  // Soundness of kv manifest stats+bloom file pruning: for ANY pushed
  // filter, reading through the connector (pruning active) must equal the
  // same predicate applied with no connector in the loop. The corpus mixes
  // the known adversaries: non-BMP strings (UTF-8 vs UTF-16 order), empty
  // strings, NULLs, negative longs, NaN doubles.
  test("kv file pruning never loses matching rows on adversarial random data") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val pool = Array("😀emoji", "private", "plain", "zz", "",
      "Ａwide", "𐀀astral", "mid�char")
    val rows = (1 to 400).map { i =>
      (rnd.nextLong() % 1000L,
        if (rnd.nextInt(10) == 0) null else pool(rnd.nextInt(pool.length)),
        if (rnd.nextInt(20) == 0) Double.NaN else rnd.nextDouble() * 200 - 100)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_kv_prop").toString
    rows.toDF("id", "s", "v").repartition(4)
      .write.format("graft.sources.GraftKvSink").option("path", dir)
      .mode("overwrite").save()
    val viaConnector = spark.read.format("graft.sources.GraftKvSink")
      .option("path", dir).load()
    // the no-pruning reference: same rows, same Catalyst semantics, no
    // connector in the plan
    val reference = rows.toDF("id", "s", "v")
    def preds(): Seq[org.apache.spark.sql.Column] = {
      val lv = rows(rnd.nextInt(rows.length))._1
      val sv = pool(rnd.nextInt(pool.length))
      val dv = rnd.nextDouble() * 200 - 100
      Seq(col("id") === lv, col("id") > lv, col("id") <= lv,
        col("id").isin(lv, lv + 1, 9999999L),
        col("s") === sv, col("s") > sv, col("s") < sv,
        col("s").isin(sv, "nope"),
        col("v") > dv, col("v") <= dv, col("s").isNull,
        col("id") > lv && col("s") === sv)
    }
    (1 to 8).foreach { _ =>
      preds().foreach { p =>
        val got = viaConnector.filter(p).collect()
          .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
        val want = reference.filter(p).collect()
          .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
        assert(got.toSeq == want.toSeq, s"pruning lost rows under $p")
      }
    }
  }

  test("column mapping: random rename/drop/add sequences preserve data") {
    // model check for the r18 centerpiece: a seeded random walk over
    // {insert, rename, drop, add} against an in-memory relational model,
    // verified after EVERY op — positions are the column identity, so no
    // sequence of relabelings/retirements may ever lose, duplicate, or
    // misfile a value (the classic column-mapping corruption classes)
    val r = new scala.util.Random(7)
    (1 to 4).foreach { seq =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_cmprop$seq").toString
      spark.sql(s"DROP TABLE IF EXISTS graft.cmprop.t$seq")
      spark.sql(s"CREATE TABLE graft.cmprop.t$seq (c0 BIGINT, c1 BIGINT, " +
        s"c2 BIGINT) USING graft_kv OPTIONS (path '$dir')")
      var cols = Vector("c0", "c1", "c2")
      var rows = Vector.empty[Map[String, Option[Long]]]
      var next = 3
      var rowId = 0L
      // seed data first: a never-written kv table has no manifest to scan
      spark.sql(s"INSERT INTO graft.cmprop.t$seq VALUES (1L, 2L, 3L)")
      rows :+= Map("c0" -> Option(1L), "c1" -> Option(2L), "c2" -> Option(3L))
      def check(): Unit = {
        def key(m: Map[String, Option[Long]]) =
          cols.map(c => m(c).map(_.toString).getOrElse("null")).mkString(",")
        val got = spark.table(s"graft.cmprop.t$seq").collect().map { row =>
          cols.map { c =>
            val i = row.fieldIndex(c)
            c -> (if (row.isNullAt(i)) None else Some(row.getLong(i)))
          }.toMap
        }.toVector
        assert(got.map(key).sorted == rows.map(key).sorted,
          s"seq $seq diverged from the model; schema $cols")
      }
      (1 to 8).foreach { _ =>
        r.nextInt(4) match {
          case 0 =>
            val vals = (0 until 3).map { _ =>
              rowId += 1
              cols.map(c => c -> Option(rowId * 100 + r.nextInt(50).toLong))
                .toMap
            }
            val sql = vals.map(m =>
              "(" + cols.map(c => m(c).get.toString + "L").mkString(", ") +
                ")").mkString(", ")
            spark.sql(s"INSERT INTO graft.cmprop.t$seq VALUES $sql")
            rows ++= vals
          case 1 if cols.length > 1 =>
            val c = cols(r.nextInt(cols.length))
            spark.sql(s"ALTER TABLE graft.cmprop.t$seq DROP COLUMN $c")
            cols = cols.filterNot(_ == c)
            rows = rows.map(_ - c)
          case 2 =>
            val c = cols(r.nextInt(cols.length))
            val n = s"c$next"; next += 1
            spark.sql(s"ALTER TABLE graft.cmprop.t$seq RENAME COLUMN $c TO $n")
            cols = cols.updated(cols.indexOf(c), n)
            rows = rows.map(m => m - c + (n -> m(c)))
          case _ =>
            val n = s"c$next"; next += 1
            spark.sql(s"ALTER TABLE graft.cmprop.t$seq ADD COLUMN $n BIGINT")
            cols = cols :+ n
            rows = rows.map(_ + (n -> None))
        }
        check()
      }
      spark.sql(s"DROP TABLE graft.cmprop.t$seq")
    }
  }

  test("keyed tables: the live view, graft.t, VERSION AS OF and asOf agree after every step") {
    // a single-part table's view takes each statement's step on top of the
    // live view; graft.t, VERSION AS OF, asOf and a qualified twin's view
    // replay the whole mutation log. A seeded walk over every logged
    // statement kind checks, after EVERY step, that all of them hold the
    // same schema and the same multiset of rows
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_prop")
    val base = dir.resolve("base").toString
    spark.range(6).selectExpr("CAST(id AS INT) AS k", "CAST(id * 10 AS INT) AS v",
      "concat('s', id) AS s").write.parquet(base)
    val prev = sys.props.get("graft.catalog.path")
    sys.props("graft.catalog.path") = dir.resolve("graft_catalog.json").toString
    val r = new scala.util.Random(11)
    def state(df: org.apache.spark.sql.DataFrame) =
      (df.schema.map(f => (f.name, f.dataType)),
        df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq)
    try {
      ops.Ddl.resetForTest()
      // every statement kind once, plus one drawn again: two walks of six
      val kinds = r.shuffle((0 until 11).toVector :+ r.nextInt(11))
      kinds.grouped(6).zipWithIndex.foreach { case (walk, w) =>
        val tables = Seq(s"replay_p$w", s"replaydb.replay_q$w")
        tables.foreach(t => spark.sql(s"CREATE TABLE $t MAPPED BY '$base' KEYS (k)"))
        var cols = Vector("v" -> "INT", "s" -> "STRING") // non-key, in order
        var fresh = 100 // never-used keys and column suffixes
        def next(): Int = { fresh += 1; fresh }
        def value(tpe: String) =
          if (tpe == "STRING") s"'x${r.nextInt(50)}'" else r.nextInt(1000).toString
        def row(k: Int) = (k.toString +: cols.map(c => value(c._2))).mkString(", ")
        walk.foreach { kind =>
          val ints = cols.filter(_._2 != "STRING").map(_._1)
          // a kind with nothing to act on inserts instead
          val stmt: String => String = kind match {
            case 1 if ints.nonEmpty =>
              val c = ints(r.nextInt(ints.length)); val n = r.nextInt(9); val m = r.nextInt(2)
              t => s"UPDATE $t SET $c = $c + $n WHERE k % 2 = $m"
            case 2 =>
              val m = r.nextInt(5)
              t => s"DELETE FROM $t WHERE k % 5 = $m"
            case 3 =>
              val named = ("k" -> "INT") +: cols
              def sel(k: Int) = (k.toString +: cols.map(c => value(c._2)))
                .zip(named).map { case (v, (c, _)) => s"$v AS `$c`" }.mkString(", ")
              val src = s"SELECT ${sel(r.nextInt(6))} UNION ALL SELECT ${sel(next())}"
              t => s"MERGE INTO $t USING ($src) s ON s.k = k " +
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            case 4 =>
              val src = s"SELECT ${r.nextInt(6)} AS k, ${r.nextInt(1000)} AS n " +
                s"UNION ALL SELECT ${next()}, ${r.nextInt(1000)}"
              val m = r.nextInt(7)
              val clauses =
                if (ints.isEmpty) "WHEN MATCHED THEN DELETE " +
                  "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)"
                else s"WHEN MATCHED THEN UPDATE SET ${ints.head} = s.n " +
                  s"WHEN NOT MATCHED THEN INSERT (k, ${ints.head}) VALUES (s.k, s.n)"
              t => s"MERGE INTO $t USING ($src) s ON s.k = k $clauses " +
                s"WHEN NOT MATCHED BY SOURCE AND k % 7 = $m THEN DELETE"
            case 5 =>
              val c = s"a${next()}"; val n = r.nextInt(9)
              cols :+= c -> "INT"
              t => s"ALTER TABLE $t ADD COLUMN $c AS k * 2 + $n"
            case 6 =>
              val c = s"d${next()}"; val n = r.nextInt(9)
              cols :+= c -> "INT"
              t => s"ALTER TABLE $t ADD COLUMN $c DEFAULT $n"
            case 7 if cols.length > 1 =>
              val c = cols(r.nextInt(cols.length))
              cols = cols.filterNot(_ == c)
              t => s"ALTER TABLE $t DROP COLUMN ${c._1}"
            case 8 if cols.nonEmpty =>
              val i = r.nextInt(cols.length); val (c, tpe) = cols(i); val to = s"r${next()}"
              cols = cols.updated(i, to -> tpe)
              t => s"ALTER TABLE $t RENAME COLUMN $c TO $to"
            case 9 if cols.exists(_._2 == "INT") =>
              val i = cols.indexWhere(_._2 == "INT"); val c = cols(i)._1
              cols = cols.updated(i, c -> "BIGINT")
              t => s"ALTER TABLE $t ALTER COLUMN $c TYPE BIGINT"
            case 10 =>
              // header-aligned: the CSV lists the columns in reverse order
              val csv = dir.resolve(s"csv_${next()}").toString
              val names = "k" +: cols.map(_._1)
              spark.sql(s"SELECT ${row(next())} UNION ALL SELECT ${row(next())}")
                .toDF(names: _*).select(names.reverse.map(org.apache.spark.sql.functions.col): _*)
                .write.option("header", "true").csv(csv)
              t => s"LOAD DATA INPATH '$csv' INTO TABLE $t"
            case _ =>
              val vals = s"(${row(next())}), (${row(next())})"
              t => s"INSERT INTO $t VALUES $vals"
          }
          val states = tables.flatMap { t =>
            spark.sql(stmt(t))
            val n = ops.Ddl.lookup(t).get.muts.length
            Seq(spark.table(t), spark.sql(s"SELECT * FROM graft.$t"),
              spark.sql(s"SELECT * FROM graft.$t VERSION AS OF $n"),
              ops.Ddl.asOf(spark, t, n)).map(state)
          }
          assert(states.distinct.size == 1,
            s"walk $w diverged after '${stmt(tables.head)}': $states")
        }
        tables.foreach(t => spark.sql(s"DROP TABLE $t"))
      }
    } finally {
      prev match {
        case Some(v) => sys.props("graft.catalog.path") = v
        case None    => sys.props.remove("graft.catalog.path")
      }
      ops.Ddl.resetForTest()
    }
  }
}
