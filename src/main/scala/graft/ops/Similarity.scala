package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.VectorOps
import graft.functions.VectorOps.Sql

/** Similarity search + multimodal columns (SURVEY.md §2C rows C3/C5 + the
  * mandated ANN and embedding-near-dup variants).
  *
  * Scale design: `sim_topk` is the brute-force baseline (bounded query set ×
  * corpus, per-partition top-k via window rank); `sim_ann_lsh` is the scale
  * path — sign-random-projection buckets turn the crossJoin into an equality
  * join on bucket id, the same shape an IVF coarse quantizer gives. The
  * hyperplanes are dyadic-rational constants baked into BOTH dialects, so the
  * oracle runs the identical math. At 100 TB: bucket join keys distribute the
  * shuffle; per-bucket candidate lists stay small (256 buckets here; 2^k
  * planes scale with corpus size).
  *
  * Determinism: all dot products / norms are left folds over doubles (see
  * VectorOps), cosine therefore bit-matches DuckDB; ties in top-k rank break
  * on neighbor id.
  */
object Similarity {

  /** Deterministic dyadic-rational hyperplanes (exact in decimal and binary,
    * so the SQL literal and the Scala constant are the same double). */
  private[ops] val planes: Array[Array[Double]] = Array.tabulate(8, 64) { (i, j) =>
    ((2654435761L * (i * 64L + j + 1L) + 1013904223L) % 2048L).toDouble / 1024.0 - 1.0
  }

  private def planeSql(i: Int): String =
    planes(i).map(_.toString).mkString("[", ", ", "]")

  private def signCol(i: Int): Column =
    when(VectorOps.dotFast(col("emb_d"), typedLit(planes(i).toSeq)) >= 0, "1").otherwise("0")

  private def bucketCol(from: Int, until: Int): Column =
    concat((from until until).map(signCol): _*)

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", bucketCol(0, 8))

  /** Multi-probe LSH (the Lv et al. 2007 idea, deterministic form): the
    * second-best bucket for a query is its own bucket with the LEAST-
    * CONFIDENT sign bit flipped — the plane whose |projection| is smallest
    * (first index on exact-double ties). Probing it roughly doubles the
    * candidate set for the cost of one more bucket-equality join, the same
    * recall-for-compute trade the IVF path makes with nprobe=2. The argmin
    * is over the same projections the bucket bits sign, so the oracle
    * replays it from its d0..d7 columns exactly. */
  private def withBucket2(df: DataFrame): DataFrame = {
    val withD = (0 until 8).foldLeft(df) { (acc, i) =>
      acc.withColumn(s"d$i", VectorOps.dotFast(col("emb_d"), typedLit(planes(i).toSeq)))
    }
    val absC = (0 until 8).map(i => abs(col(s"d$i")))
    val m = least(absC: _*)
    val bits = (0 until 8).map { i =>
      val priorMin = if (i == 1) absC(0) else least(absC.take(i): _*)
      val firstArgmin =
        if (i == 0) absC(0) === m
        else absC(i) === m && priorMin > m
      when(firstArgmin, when(col(s"d$i") >= 0, "0").otherwise("1"))
        .otherwise(when(col(s"d$i") >= 0, "1").otherwise("0"))
    }
    withD.withColumn("bucket2", concat(bits: _*))
      .drop((0 until 8).map(i => s"d$i"): _*)
  }

  /** Hoist the float→double cast and the norm out of the pair loop: each is
    * computed once per vector instead of once per pair (the cosine VALUE is
    * unchanged — same fold, same division — so the oracle still bit-matches). */
  private def withVec(df: DataFrame): DataFrame =
    df.withColumn("emb_d", VectorOps.embD(col("embedding")))
      .withColumn("nrm", sqrt(VectorOps.dotFast(col("emb_d"), col("emb_d"))))

  private def pairCos(aEmb: Column, bEmb: Column, aNrm: Column, bNrm: Column): Column =
    VectorOps.dotFast(aEmb, bEmb) / (aNrm * bNrm)

  /** FIXED-SIZE deterministic query sample for the eval/baseline paths: the
    * `nQueries` vec_ids with the smallest md5(vec_id) (ties on vec_id —
    * unreachable, but pinned). The earlier `vec_id % 20` slice sampled a
    * FRACTION, so the brute-force truth path cost n²/20 pairs — at 100× data
    * that is 10,000× work; a constant-count sample keeps truth cost linear in
    * the corpus (nQueries·n) forever. Plan shape: a top-k by hash over just
    * the id column (TakeOrderedAndProject — one linear scan, 64-row heap per
    * partition), then a broadcast semi-side join, so no full sort and no
    * shuffle of the vector column. The md5 ordering is replayed character-
    * for-character by the oracle's ORDER BY md5(CAST(vec_id AS VARCHAR))
    * LIMIT CTE (hex digits sort identically in both engines). */
  private[ops] val nQueries = 64

  private def queryIds(withVecId: DataFrame): DataFrame =
    withVecId.select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nQueries)

  /** The sample computed from the RAW embeddings table (vec_id column only —
    * one pruned scan). Derived frames like the IVF cell ranking carry a
    * window the optimizer cannot prune away, so sampling from them would
    * re-execute the whole n×k assignment subtree just to enumerate ids. */
  private def queryIdsFor(s: SparkSession, d: String): DataFrame =
    queryIds(Tables.embeddings(s, d))

  private def onlyQueries(df: DataFrame, ids: DataFrame): DataFrame =
    df.join(broadcast(ids), Seq("vec_id"))

  /** Oracle-side twin of [[queryIds]]: a CTE `qs(vec_id)` selecting the same
    * fixed-size sample; expects an `e` CTE with vec_id in scope. */
  private def querySampleSqlCte: String =
    s"qs AS (SELECT vec_id FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $nQueries)"

  private def bucketSqlExpr(emb: String, from: Int = 0, until: Int = 8): String =
    (from until until).map(i =>
      s"(CASE WHEN ${Sql.dotD(emb, planeSql(i))} >= 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")

  /** SQL CTE chain replaying withBucket + withBucket2 from per-plane
    * projection columns (d0..d7): `bd` computes the projections once, `bm`
    * their least |value|, `b` the home bucket and the least-confident-bit
    * flip — character for character the Spark columns. Expects an `e`
    * CTE with (vec_id, emb) in scope; yields `b(vec_id, emb, bucket,
    * bucket2)`. */
  private def bucketsSqlCtes: String = {
    val ds = (0 until 8)
      .map(i => s"${Sql.dotD("emb", planeSql(i))} AS d$i").mkString(", ")
    val bucket = (0 until 8)
      .map(i => s"(CASE WHEN d$i >= 0 THEN '1' ELSE '0' END)").mkString(" || ")
    val mn = s"least(${(0 until 8).map(i => s"abs(d$i)").mkString(", ")})"
    val bucket2 = (0 until 8).map { i =>
      val prior =
        if (i == 1) "abs(d0)"
        else s"least(${(0 until i).map(j => s"abs(d$j)").mkString(", ")})"
      val first =
        if (i == 0) "abs(d0) = mn"
        else s"abs(d$i) = mn AND $prior > mn"
      s"(CASE WHEN $first THEN (CASE WHEN d$i >= 0 THEN '0' ELSE '1' END)" +
        s" ELSE (CASE WHEN d$i >= 0 THEN '1' ELSE '0' END) END)"
    }.mkString(" || ")
    s"""bd AS (SELECT vec_id, emb, $ds FROM e),
       |bm AS (SELECT *, $mn AS mn FROM bd),
       |b AS (SELECT vec_id, emb, $bucket AS bucket, $bucket2 AS bucket2 FROM bm)""".stripMargin
  }

  /** C3/C4 composition: HYBRID SEARCH with RECIPROCAL-RANK FUSION — the
    * standard two-arm retrieval stack: a LEXICAL arm (distinct-token
    * Jaccard of the query doc vs the corpus — integers, one IEEE division)
    * and a VECTOR arm (brute-force cosine over the embeddings), each
    * ranked top-20, fused by RRF score 1/(60+r_lex) + 1/(60+r_vec)
    * (absent arm contributes 0), top-5 per query. The arms deliberately
    * cover DIFFERENT corpora at sf0.1 (5k docs vs 2k embeddings), so the
    * fusion's full-outer shape — not just its arithmetic — is hash-gated.
    * Scale shape: the 3-query token/vector sets broadcast; each arm is
    * one corpus-linear pass; fusion joins two 60-row frames. */
  def searchHybridRrf(s: SparkSession, d: String): DataFrame = {
    VectorOps.ensureRegistered(s)
    import s.implicits._
    val qids = Seq(7L, 42L, 137L).toDF("q_id")
    // lexical arm: distinct-token Jaccard, query-token postings broadcast
    val dtok = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val nc = dtok.groupBy(col("doc_id")).agg(count(lit(1)).as("nc"))
    val qtok = dtok.join(broadcast(qids), dtok("doc_id") === qids("q_id"))
      .select(col("q_id"), col("term"))
    val nq = qtok.groupBy(col("q_id")).agg(count(lit(1)).as("nq"))
    val ov = dtok.join(broadcast(qtok), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("doc_id")).agg(count(lit(1)).as("ov"))
    val jac = ov.join(broadcast(nq), "q_id").join(nc, "doc_id")
      .select(col("q_id"), col("doc_id"),
        (col("ov").cast(DoubleType) /
          (col("nq") + col("nc") - col("ov")).cast(DoubleType)).as("jac"))
    val wl = Window.partitionBy(col("q_id")).orderBy(col("jac").desc, col("doc_id"))
    val lex = jac.withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= 20)
      .select(col("q_id"), col("doc_id").as("cand_id"), col("lex_rank"))
    // vector arm: brute-force cosine, the 3 query vectors broadcast
    val e = withVec(Tables.embeddings(s, d))
    val qv = e.join(broadcast(qids), e("vec_id") === qids("q_id"))
      .select(col("q_id"), col("emb_d").as("qe"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("n_id"), col("emb_d").as("ne"),
      col("nrm").as("nn"))
    val wv = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    val vec = broadcast(qv).join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos", pairCos(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("vec_rank", row_number().over(wv))
      .filter(col("vec_rank") <= 20)
      .select(col("q_id"), col("n_id").as("cand_id"), col("vec_rank"))
    // reciprocal-rank fusion over the full-outer arm union
    val fused = lex.join(vec, Seq("q_id", "cand_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("lex_rank").cast(DoubleType)), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("vec_rank").cast(DoubleType)), lit(0.0)))
    val wf = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("cand_id"))
    fused.withColumn("rank", row_number().over(wf).cast(IntegerType))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("cand_id"),
        coalesce(col("lex_rank"), lit(-1)).cast(IntegerType).as("lex_rank"),
        coalesce(col("vec_rank"), lit(-1)).cast(IntegerType).as("vec_rank"),
        col("rrf"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** C3 baseline: brute-force cosine top-10 for a fixed-size query sample. */
  def simTopk(s: SparkSession, d: String): DataFrame = {
    VectorOps.ensureRegistered(s)
    val e = withVec(Tables.embeddings(s, d))
    val q = onlyQueries(e, queryIdsFor(s, d))
      .select(col("vec_id").as("q_id"), col("emb_d").as("qe"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("n_id"), col("emb_d").as("ne"), col("nrm").as("nn"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos", pairCos(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** C3 via the bounded-heap TopKAgg (§7.3 100-TB option): identical output
    * to sim_topk — same pair set, same (cos desc, id) ordering — but the
    * aggregation state is O(k) per query with partial combines, no full
    * partition sort. Shares sim_topk's oracle semantics. */
  def simTopkAgg(s: SparkSession, d: String): DataFrame = {
    VectorOps.ensureRegistered(s)
    val topk = udaf(new graft.functions.TopKAgg(10))
    val e = withVec(Tables.embeddings(s, d))
    val q = onlyQueries(e, queryIdsFor(s, d))
      .select(col("vec_id").as("q_id"), col("emb_d").as("qe"), col("nrm").as("qn"))
    val c = e.select(col("vec_id").as("n_id"), col("emb_d").as("ne"), col("nrm").as("nn"))
    q.join(c, col("q_id") =!= col("n_id"))
      .withColumn("cos", pairCos(col("qe"), col("ne"), col("qn"), col("nn")))
      .groupBy(col("q_id"))
      .agg(topk(col("n_id"), col("cos")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("p._1").as("n_id"), col("p._2").as("cos"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** C3 scale path: LSH-bucketed ANN — MULTI-PROBE: queries search their own
    * 8-bit sign-projection bucket plus the least-confident-bit flip
    * (nprobe = 2, see withBucket2); neighbors index in their home bucket;
    * top-3 over the probed candidates. annRecall judges nprobe 1 vs 2. */
  def simAnnLsh(s: SparkSession, d: String): DataFrame =
    lshTopk(lshBuckets(s, d), queryIdsFor(s, d), nprobe = 2)
      .orderBy(col("q_id"), col("rank"))

  private def lshBuckets(s: SparkSession, d: String): DataFrame = {
    VectorOps.ensureRegistered(s)
    withBucket2(withBucket(withVec(Tables.embeddings(s, d))))
  }

  /** LSH search at nprobe 1 (home bucket) or 2 (+ flipped-bit bucket). The
    * two probe buckets differ in exactly one bit and each neighbor lives in
    * one bucket, so probe candidates never duplicate a (q_id, n_id) pair. */
  private def lshTopk(b: DataFrame, qIds: DataFrame, nprobe: Int): DataFrame = {
    val qBase = onlyQueries(b, qIds)
    def probe(bk: String) = qBase.select(col("vec_id").as("q_id"),
      col("emb_d").as("qe"), col("nrm").as("qn"), col(bk).as("bucket"))
    val q = if (nprobe == 1) probe("bucket") else probe("bucket").union(probe("bucket2"))
    val c = b.select(col("vec_id").as("n_id"), col("emb_d").as("ne"),
      col("nrm").as("nn"), col("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    q.join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", pairCos(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos"))
  }

  /** C3 IVF-style ANN: a deterministic coarse quantizer (every 40th vector is
    * a centroid), nearest-centroid cell assignment, then MULTI-PROBE search
    * over the query's top-2 cells (nprobe = 2) against neighbors indexed in
    * their home cell — the inverted-file shape production ANN systems use,
    * beside sim_ann_lsh's hyperplane variant. Assignment ties break on
    * centroid id, so the cells (and therefore results) are deterministic and
    * the oracle mirrors every step. Scale notes: the centroid table is
    * bounded (k ≪ n) and broadcast; at cluster scale the argmax-by-window
    * becomes a per-row fold over the broadcast centroid array — the
    * window form is the oracle-mirrorable equivalent with identical output,
    * and its shuffle is n×k rows keyed by vec_id. */
  /** Per-JVM scratch root for the persisted-index tables (the KeyRange
    * pattern): concurrent Verify/Bench processes must not share paths. */
  private lazy val scratch: String = scratchDir("graft_sim_scratch_").toString

  /** C3 × A7-DSv2 judged: INCREMENTAL ANN INDEX MAINTENANCE — the
    * dedup_incremental economics applied to similarity search. The IVF
    * index (vec_id → home cell) PERSISTS as a kv table; centroids are
    * FROZEN at build time (trained on the base corpus only — the
    * production invariant that makes increments valid); a new embedding
    * batch indexes in O(batch): one nearest-centroid pass over JUST the
    * batch, appended as its own epoch. Required in-query: (1) the second
    * epoch's manifest row count equals the batch size — the MANIFEST
    * proves the incremental economics, no corpus re-assignment happened;
    * (2) the incremental index answers the standard multi-probe query
    * IDENTICALLY to a from-scratch rebuild over the full corpus (same
    * frozen centroids ⇒ same assignments ⇒ bit-equal top-3). The oracle
    * replays the whole IVF search relationally over base+batch. r20: the
    * index is KV-NATIVE end to end (§7.46 payoff) — it holds
    * (vec_id, cell, vec ARRAY<FLOAT>), the search path reads neighbor
    * vectors from the index table itself (the float codec round-trips
    * exactly, so dot products stay bit-equal to a parquet-side
    * derivation), and kv CDC/branches/time-travel version embedding
    * revisions like any column. At 100 TB: nightly embedding batches
    * index in batch-sized work and append as epochs; the index table
    * compacts, prunes and time-travels like any kv table. */
  def simAnnIncremental(s: SparkSession, d: String): DataFrame = {
    VectorOps.ensureRegistered(s)
    val tmp = s"$scratch/ann_idx"
    s.sql("DROP TABLE IF EXISTS graft.kvq.ann_idx")
    locally { // reset for repeat runs in one JVM
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(tmp))
    }
    // KV-NATIVE index (§7.46 payoff): the vectors themselves live in the
    // kv table beside their cell assignment — ARRAY<FLOAT> is a first-
    // class kv type, so CDC/branches/time-travel version embedding
    // revisions like any column, and the search path below reads ONLY
    // the index table (no parquet side-car join for the corpus).
    s.sql("CREATE TABLE graft.kvq.ann_idx (vec_id BIGINT, cell BIGINT, " +
      s"vec ARRAY<FLOAT>) USING graft_kv OPTIONS (path '$tmp', epochs 'true')")
    val e = withVec(Tables.embeddings(s, d))
    val base = e.filter(col("vec_id") % 5 =!= 0)
    val batch = e.filter(col("vec_id") % 5 === 0)
    // frozen coarse quantizer: base-corpus sample, NEVER retrained —
    // retraining would re-assign the whole corpus, the thing increments
    // exist to avoid. (≡1 mod 40 is never ≡0 mod 5, so every centroid
    // is in the base — a %40==0 rule would intersect the batch and
    // leave the quantizer EMPTY.)
    val cents = base.filter(col("vec_id") % 40 === 1)
      .select(col("vec_id").as("c_id"), col("emb_d").as("ce"),
        col("nrm").as("cn"))
    def assign(part: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("c_id"))
      part.join(broadcast(cents))
        .withColumn("ccos",
          pairCos(col("emb_d"), col("ce"), col("nrm"), col("cn")))
        .withColumn("crk", row_number().over(w))
        .filter(col("crk") === 1)
        .select(col("vec_id"), col("c_id").as("cell"),
          col("embedding").as("vec"))
    }
    assign(base).createOrReplaceTempView("ann_idx_base")
    s.sql("INSERT INTO graft.kvq.ann_idx SELECT * FROM ann_idx_base")
    assign(batch).createOrReplaceTempView("ann_idx_batch")
    s.sql("INSERT INTO graft.kvq.ann_idx SELECT * FROM ann_idx_batch")
    val mf = graft.sources.GraftKvSink.readManifest(
      graft.sources.GraftKvSink.manifestPath(tmp))
    val ep1 = mf.files.filter(f =>
      graft.sources.GraftKvSink.epochOf(f._1) == 1L).map(_._2).sum
    val nBatch = batch.count()
    require(ep1 == nBatch && mf.files.map(_._2).sum == e.count(),
      s"incremental epoch indexed $ep1 rows, batch holds $nBatch — " +
        "the increment must be batch-sized, never a corpus re-assignment")
    // the standard multi-probe search, parameterized by the index
    def ivfSearch(idx: DataFrame): DataFrame = {
      val wq = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("c_id"))
      val qr = onlyQueries(e, queryIdsFor(s, d))
        .join(broadcast(cents))
        .withColumn("ccos",
          pairCos(col("emb_d"), col("ce"), col("nrm"), col("cn")))
        .withColumn("crk", row_number().over(wq))
        .filter(col("crk") <= 2)
        .select(col("vec_id").as("q_id"), col("emb_d").as("qe"),
          col("nrm").as("qn"), col("c_id").as("cell"))
      // neighbor vectors come from the INDEX itself (kv-native): the
      // float codec round-trips exactly, so the dot products are
      // bit-equal to a parquet-side derivation
      val n = idx
        .withColumn("ne", VectorOps.embD(col("vec")))
        .withColumn("nn", sqrt(VectorOps.dotFast(col("ne"), col("ne"))))
        .select(col("vec_id").as("n_id"), col("ne"), col("nn"), col("cell"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id"))
      qr.join(n, Seq("cell"))
        .filter(col("q_id") =!= col("n_id"))
        .withColumn("cos", pairCos(col("qe"), col("ne"), col("qn"), col("nn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("n_id"), col("cos"))
    }
    val incremental = ivfSearch(s.table("graft.kvq.ann_idx"))
      .orderBy(col("q_id"), col("rank"))
    // equality with a from-scratch rebuild: same frozen centroids must
    // mean bit-identical answers — any drift is an indexing bug
    val rebuilt = ivfSearch(assign(e)).orderBy(col("q_id"), col("rank"))
    val a = incremental.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val b = rebuilt.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    require(a == b,
      s"incremental index diverged from full rebuild (${a.size} vs ${b.size} rows)")
    incremental
  }

  def simAnnIvf(s: SparkSession, d: String): DataFrame =
    ivfTopk(ivfRanks(s, d), queryIdsFor(s, d), nprobe = 2)
      .orderBy(col("q_id"), col("rank"))

  /** Cell-assignment ranks for the IVF index, bounded at crk ≤ 2 (home cell
    * + the one extra cell multi-probe queries search). */
  private def ivfRanks(s: SparkSession, d: String): DataFrame = {
    VectorOps.ensureRegistered(s)
    val e = withVec(Tables.embeddings(s, d))
    val cents = e.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("c_id"), col("emb_d").as("ce"), col("nrm").as("cn"))
    val wA = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("c_id"))
    e.join(broadcast(cents))
      .withColumn("ccos", pairCos(col("emb_d"), col("ce"), col("nrm"), col("cn")))
      .withColumn("crk", row_number().over(wA))
      .filter(col("crk") <= 2)
      .select(col("vec_id"), col("emb_d"), col("nrm"), col("c_id").as("cell"),
        col("crk"))
  }

  /** IVF search at a given nprobe over the crk-ranked cell assignment: the
    * index side lives in its home cell (crk = 1, the inverted-file entry);
    * the query side searches its nprobe nearest cells (ties break on
    * centroid id — deterministic, oracle-mirrored). Candidate (q_id, n_id)
    * pairs stay unique across probes because each neighbor belongs to
    * exactly one cell, so no dedup is needed before the top-3 rank. nprobe
    * trades one more cell-sized candidate join for recall — the production
    * multi-probe shape; annRecallIvf judges nprobe 1 vs 2 side by side. */
  private def ivfTopk(ranks: DataFrame, qIds: DataFrame, nprobe: Int): DataFrame = {
    val q = onlyQueries(ranks.filter(col("crk") <= nprobe), qIds)
      .select(col("vec_id").as("q_id"), col("emb_d").as("qe"),
        col("nrm").as("qn"), col("cell"))
    val c = ranks.filter(col("crk") === 1)
      .select(col("vec_id").as("n_id"), col("emb_d").as("ne"),
        col("nrm").as("nn"), col("cell"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", pairCos(col("qe"), col("ne"), col("qn"), col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos"))
  }

  /** ANN quality evaluation: per-query recall@3 of the LSH index against the
    * brute-force ground truth — the eval harness every production ANN
    * deployment runs before trusting an index. Both sides are this module's
    * own judged queries, so the recall numbers are themselves oracle-checked.
    * Scale shape: ground truth on a FIXED-SIZE query sample (queryIds — at
    * 100 TB you never brute-force every row, and a constant count keeps
    * truth cost linear in the corpus) THROUGH THE BOUNDED-HEAP
    * TopKAgg (O(k) state per query with partial combines, no full partition
    * sort — identical rows to the window-rank form), then an equi-join on
    * (q_id, n_id) and a small per-query aggregate. Like the IVF twin, it
    * judges single-bucket (nprobe = 1) BESIDE multi-probe (nprobe = 2, the
    * judged sim_ann_lsh setting) so the recall the flipped-bit probe buys
    * is itself oracle-checked; per-query recall2 ≥ recall1 is unit-asserted
    * (a candidate that displaces a top-3 hit has higher cosine and is
    * therefore in the global top-3 truth itself). */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val truth = simTopkAgg(s, d).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"))
    val b = lshBuckets(s, d)
    val qi = queryIdsFor(s, d)
    val p1 = lshTopk(b, qi, nprobe = 1)
      .select(col("q_id"), col("n_id"), lit(1).as("hit1"))
    val p2 = lshTopk(b, qi, nprobe = 2)
      .select(col("q_id"), col("n_id"), lit(1).as("hit2"))
    truth.join(p1, Seq("q_id", "n_id"), "left")
      .join(p2, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit1"), lit(0))).as("n_hit1"),
        sum(coalesce(col("hit2"), lit(0))).as("n_hit2"))
      .withColumn("recall1", ratioD(col("n_hit1"), lit(3)))
      .withColumn("recall2", ratioD(col("n_hit2"), lit(3)))
      .orderBy(col("q_id"))
  }

  /** ann_recall's IVF twin: recall@3 of the coarse-quantizer index against
    * the same bounded-heap brute-force ground truth — evaluating BOTH index
    * families (hyperplane LSH and IVF) against one truth set is how an ANN
    * deployment picks its index. Judges nprobe = 1 BESIDE nprobe = 2 (the
    * judged sim_ann_ivf setting), so the recall the extra probe buys is
    * itself an oracle-checked number; OpsSpec asserts the per-query
    * monotonicity recall2 ≥ recall1 that multi-probe guarantees (probing a
    * superset of cells can only add candidates). Same scale shape as
    * annRecall. */
  def annRecallIvf(s: SparkSession, d: String): DataFrame = {
    val truth = simTopkAgg(s, d).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"))
    val ranks = ivfRanks(s, d)
    val qi = queryIdsFor(s, d)
    val p1 = ivfTopk(ranks, qi, nprobe = 1)
      .select(col("q_id"), col("n_id"), lit(1).as("hit1"))
    val p2 = ivfTopk(ranks, qi, nprobe = 2)
      .select(col("q_id"), col("n_id"), lit(1).as("hit2"))
    truth.join(p1, Seq("q_id", "n_id"), "left")
      .join(p2, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit1"), lit(0))).as("n_hit1"),
        sum(coalesce(col("hit2"), lit(0))).as("n_hit2"))
      .withColumn("recall1", ratioD(col("n_hit1"), lit(3)))
      .withColumn("recall2", ratioD(col("n_hit2"), lit(3)))
      .orderBy(col("q_id"))
  }

  /** PQ geometry: 16 subspaces × 4 dims over the 64-dim embeddings, 256
    * centroids per sub-codebook (narrow subspaces + bigger codebooks is the
    * standard PQ recall lever — measured mean recall@3 at sf0.01:
    * 4×16/16 → 0.07, 8×8/64 → 0.29, 16×4/64 → 0.47, 8×8/256 → 0.54,
    * 16×4/128 → 0.54, 16×4/256 → 0.72; at sf0.1 16×4/64 → 0.37 vs
    * 16×4/256 → 0.57). K=256 is EQUAL-MEMORY with the old K=64: codes are
    * byte-aligned at rest either way, so both store 16 one-byte codes per
    * vector (16× compression vs 64 floats) — 256 centroids just use the
    * full byte. The codebook starts as a FIXED-SIZE deterministic sample of
    * corpus vectors (md5-ordered under salt "c:", disjoint from the query
    * sample's salt) — constant-size like a trained PQ codebook, so codebook
    * cost never grows with the corpus — then takes pqIters deterministic
    * Lloyd steps (pqTrain): same memory, better centroid placement.
    * Measured mean recall@3 by refinement rounds: sf0.01 0.72 → 0.76 (2
    * rounds), sf0.1 0.57 → 0.63 (1 round) → 0.67 (2 rounds).
    *
    * Negative result, measured so the next round doesn't re-try it: a
    * residual IVFADC variant (PQ over residuals from the IVF coarse cells,
    * searched with nprobe=2) was prototyped and is WORSE on this corpus —
    * full-scan residual recall 0.55 at sf0.1 (vs 0.67 flat) and 0.16
    * cell-filtered. The fixture's embeddings are near-isotropic, so ~50
    * sampled coarse cells neither cluster the neighbors nor shrink the
    * residuals; the flat refined codebook is the right shape here. */
  private val pqSub = 16
  private val pqDim = 4
  private val pqK = 256

  /** Lloyd refinement rounds over the sampled codebook (see pqCodebook). */
  private val pqIters = 2

  /** ADC shortlist size for the exact re-rank stage (annRecallPq): the
    * production PQ serving shape (Jégou et al. 2011 §V) is coarse ADC scan
    * → shortlist of R — exact distance on the R true vectors → top-k. The
    * index memory is unchanged (codes + codebook); the re-rank reads R=12
    * original vectors per query, the bounded "fetch candidates from
    * storage" step every deployed PQ system performs. Measured recall@3 at
    * sf0.1: 0.67 pure-ADC → with re-rank, limited only by the shortlist's
    * coverage of the true top-3. An OPQ-lite variance-balancing subspace
    * permutation was considered for the same goal, but the permutation is
    * data-dependent and the DuckDB oracle's codebook CTEs index subspaces
    * textually — the re-rank is the standard lever and keeps the oracle a
    * two-CTE extension. */
  private val pqShortR = 12

  /** Fixed-point grid for the refinement means: 2^20. Multiplying a double
    * by a power of two is EXACT (no rounding), floor is exact, and integer
    * sums are order-independent — so the refined centroid coordinates are
    * bit-identical across engines regardless of aggregation order, where a
    * naive AVG over doubles would drift with partition order. One double
    * division at the end (sum / (n·2^20)) is IEEE-deterministic. */
  private val pqScale = 1048576.0

  private def pqSlice(c: Column, m: Int): Column = slice(c, m * pqDim + 1, pqDim)

  private def pqCentroids(e: DataFrame): DataFrame =
    e.select(col("vec_id").as("c_id"), col("emb_d").as("ce"))
      .orderBy(md5(concat(lit("c:"), col("c_id").cast(StringType))), col("c_id"))
      .limit(pqK)

  /** Fixed-size Lloyd TRAINING set (md5-ordered under salt "t:", disjoint
    * salts from the init-centroid and query samples): production PQ trains
    * its codebook on a bounded sample (Jégou et al. use ~100k of billions),
    * so the per-iteration assignment scan is O(pqTrainN), CONSTANT in the
    * corpus — pre-r13 each Lloyd pass scanned the full corpus, the one
    * unbounded training cost left in the ANN family. Corpora smaller than
    * the budget train on everything (LIMIT returns what there is), so
    * small-SF results are unchanged by construction. */
  private val pqTrainN = 2048
  private def pqTrainSet(e: DataFrame): DataFrame =
    e.orderBy(md5(concat(lit("t:"), col("vec_id").cast(StringType))),
        col("vec_id"))
      .limit(pqTrainN)

  /** Driver-trained codebook: cids (ascending centroid ids) and cb[m][k] =
    * 4-dim sub-centroid k of subspace m, k ordered by cids.
    *
    * "Train, then ship the codebook as a constant" is how a production PQ
    * index works — the codebook is pqK×64 doubles (fixed size, never grows
    * with the corpus), so collecting it to the driver is a bounded scalar
    * action like the dedup convergence heads, not a data collect. Shipping
    * it back as a LITERAL makes the encode pass a pure codegen projection;
    * the earlier broadcast-join + min(struct) formulation sorted n×pqK
    * struct rows per pass (measured ~10 s/round at sf0.1 vs <1 s here).
    *
    * Each Lloyd step: one n-row projection computes the 16 winner indexes
    * (zip_with over the literal codebook, array_min/array_position — ties
    * fall to the FIRST position, i.e. the smallest c_id, exactly the
    * oracle's ORDER BY d, c_id), one groupBy over 16n exploded (m, k,
    * quantized-slice) rows sums the dyadic fixed-point coordinates (see
    * pqScale), and the pqSub×pqK sums come back to the driver where the
    * division runs in the same IEEE doubles DuckDB uses. Empty sub-clusters
    * keep their previous coordinates (COALESCE in the oracle). */
  private def pqTrain(e: DataFrame): (Array[Long], Array[Array[Array[Double]]]) = {
    val init = pqCentroids(e).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(init.nonEmpty, "PQ training requires a non-empty embedding corpus")
    // a corpus smaller than pqK yields a smaller codebook (limit(pqK)
    // returned everything there was) — degrade gracefully instead of
    // indexing past init.length; downstream (pqWinIdx, encode, oracle
    // LIMIT) all key off the actual array sizes, so parity holds
    val k0 = math.min(pqK, init.length)
    val cids = init.map(_._1)
    var cb: Array[Array[Array[Double]]] = Array.tabulate(pqSub, k0) { (m, k) =>
      init(k)._2.slice(m * pqDim, (m + 1) * pqDim)
    }
    val et = pqTrainSet(e)
    for (_ <- 0 until pqIters) {
      val parts = (0 until pqSub).map { m =>
        struct(lit(m).as("m"), pqWinIdx(cb, m).as("k"),
          transform(pqSlice(col("emb_d"), m),
            x => floor(x * lit(pqScale))).as("xi"))
      }
      val sums = et.select(explode(array(parts: _*)).as("p"))
        .groupBy(col("p.m").as("m"), col("p.k").as("k"))
        .agg(count(lit(1)).as("n"),
          (0 until pqDim).map(i => sum(element_at(col("p.xi"), i + 1)).as(s"t$i")): _*)
        .collect()
      val next = cb.map(_.clone())
      sums.foreach { r =>
        val m = r.getInt(0); val k = r.getInt(1) - 1
        val n = r.getLong(2).toDouble
        next(m)(k) = Array.tabulate(pqDim)(i => r.getLong(3 + i).toDouble / (n * pqScale))
      }
      cb = next
    }
    (cids, cb)
  }

  /** 1-based argmin index of subspace m's squared-L2 distances against the
    * driver-trained codebook: d_k = ‖c_k‖² − 2⟨x_m,c_k⟩ (the per-vector
    * ‖x_m‖² is constant inside the argmin). ‖c_k‖² is folded on the driver
    * in the same left-fold order as the oracle's list_aggregate, so the d
    * values are bit-identical; ties keep the FIRST k — the smallest c_id,
    * because the codebook is ordered by c_id. Runs as the native codegen
    * [[graft.functions.PqArgMin]] — a zip_with/array_min HOF formulation
    * computes the same winners but interprets the lambda per centroid
    * (measured ~8 s/pass at sf0.1 vs sub-second here). */
  private def pqWinIdx(cb: Array[Array[Array[Double]]], m: Int): Column = {
    val norms = cb(m).map(c => c.foldLeft(0.0)((a, v) => a + v * v)).toSeq
    call_function("graft_pq_argmin", col("emb_d"), lit(m * pqDim),
      typedLit(cb(m).flatten.toSeq), typedLit(norms))
  }

  /** PQ encode + reconstruct in one projection: assign each subvector to
    * its nearest sub-centroid from the driver-trained codebook (pqTrain)
    * and rebuild x̂ as the concatenation of the winning literal slices —
    * no join, no aggregate, whole-stage codegen end to end. Both engines
    * rank by ‖c_m‖² − 2⟨x_m,c_m⟩ with ties on centroid id (pqWinIdx). */
  private def pqReconstruct(e: DataFrame): DataFrame = {
    val (_, cb) = pqTrain(e)
    e.select(col("vec_id"),
      concat((0 until pqSub).map { m =>
        element_at(typedLit(cb(m).map(_.toSeq).toSeq), pqWinIdx(cb, m))
      }: _*).as("xhat"))
      // persist: the n×256 centroid-assignment scan above is the PQ
      // family's dominant cost and BOTH judged PQ queries (search + recall)
      // need the same reconstruction table — one doc-count × 64-float
      // materialization, shared across the family by plan-equality cache
      // lookup. A production deployment stores the codes once for the same
      // reason.
      .persist()
  }

  /** ANN family #3 — PQ with asymmetric distance (the Jégou et al. 2011 ADC
    * shape, deterministic codebook instead of trained k-means): rank the
    * corpus by cosine between the TRUE query vector and each candidate's PQ
    * reconstruction x̂, judge top-3 recall against the same exact-cosine
    * bounded-heap truth the LSH and IVF rows use. The scan is |qs| fixed
    * queries × n reconstructions — linear in the corpus — and at rest a PQ
    * index stores 16 one-byte codes per vector instead of 256 float bytes
    * (the 16× memory compression that lets a 100 TB corpus's index fit a
    * cluster's RAM). Uses the same O(k)-state bounded-heap top-k aggregate
    * as simTopkAgg, so no per-query global sort. */
  def annRecallPq(s: SparkSession, d: String): DataFrame = {
    VectorOps.ensureRegistered(s)
    val topkR = udaf(new graft.functions.TopKAgg(pqShortR))
    val topk3 = udaf(new graft.functions.TopKAgg(3))
    val e = withVec(Tables.embeddings(s, d))
    val truth = simTopkAgg(s, d).filter(col("rank") <= 3)
      .select(col("q_id"), col("n_id"))
    val xh = pqReconstruct(e)
      .withColumn("nh", sqrt(VectorOps.dotFast(col("xhat"), col("xhat"))))
    val q = onlyQueries(e, queryIdsFor(s, d))
      .select(col("vec_id").as("q_id"), col("emb_d").as("qe"), col("nrm").as("qn"))
    // stage 1: coarse ADC scan → shortlist of pqShortR per query (the
    // linear pass over the compressed reconstructions)
    val short = q.join(xh, col("q_id") =!= col("vec_id"))
      .withColumn("adc", pairCos(col("qe"), col("xhat"), col("qn"), col("nh")))
      .groupBy(col("q_id"))
      .agg(topkR(col("vec_id"), col("adc")).as("top"))
      .select(col("q_id"), explode(col("top")).as("p"))
      .select(col("q_id"), col("p._1").as("n_id"))
    // stage 2: exact re-rank of the shortlist against the TRUE vectors —
    // |q| × R rows, the bounded candidate-fetch every deployed PQ system
    // performs before serving
    val cand = e.select(col("vec_id").as("n_id"), col("emb_d").as("ne"),
      col("nrm").as("nn"))
    val rer = short.join(q, Seq("q_id")).join(cand, Seq("n_id"))
      .withColumn("cos", pairCos(col("qe"), col("ne"), col("qn"), col("nn")))
      .groupBy(col("q_id"))
      .agg(topk3(col("n_id"), col("cos")).as("top"))
      .select(col("q_id"), explode(col("top")).as("p"))
      .select(col("q_id"), col("p._1").as("n_id"), lit(1).as("hit"))
    truth.join(rer, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("recall", ratioD(col("n_hit"), lit(3)))
      .orderBy(col("q_id"))
  }

  /** The PQ family's judged SEARCH row (beside sim_ann_lsh / sim_ann_ivf):
    * top-3 neighbors per sampled query ranked by ADC cosine against the PQ
    * reconstructions, with the approximate score in the output. Same
    * bounded-heap top-k aggregate as the brute baseline — the difference a
    * user ships is that the candidate side reads 16-byte codes, not
    * 256-byte vectors. */
  def simAnnPq(s: SparkSession, d: String): DataFrame = {
    VectorOps.ensureRegistered(s)
    val topk = udaf(new graft.functions.TopKAgg(3))
    val e = withVec(Tables.embeddings(s, d))
    val xh = pqReconstruct(e)
      .withColumn("nh", sqrt(VectorOps.dotFast(col("xhat"), col("xhat"))))
    val q = onlyQueries(e, queryIdsFor(s, d))
      .select(col("vec_id").as("q_id"), col("emb_d").as("qe"), col("nrm").as("qn"))
    q.join(xh, col("q_id") =!= col("vec_id"))
      .withColumn("adc", pairCos(col("qe"), col("xhat"), col("qn"), col("nh")))
      .groupBy(col("q_id"))
      .agg(topk(col("vec_id"), col("adc")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("p._1").as("n_id"), col("p._2").as("adc"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Band boundaries for the near-dup LSH: 4 bands × 2 planes. Wider bands
    * (more planes) shrink buckets and recall; more bands restore recall at
    * the cost of extra candidate joins. At 100 TB you widen bands with corpus
    * size (16+ planes) and add bands to hold recall — the shape below, a
    * union of bucket-equality joins, is unchanged. */
  private val nearDupBands: Seq[(Int, Int)] = Seq((0, 2), (2, 4), (4, 6), (6, 8))

  /** C2-embedding: high-cosine pairs (>= 0.45) found via banded sign-LSH —
    * candidates share at least one band bucket, then the exact cosine verify
    * keeps true pairs only. NO all-pairs join anywhere in the plan: every
    * join is an equality join on a band bucket or on a candidate id, so the
    * shuffles distribute by bucket/id at cluster scale. The oracle mirrors
    * the identical band expressions (dyadic-rational planes), so recall loss
    * from banding is deterministic and both engines agree exactly.
    * Threshold chosen from the data: the fixture embeddings are near-
    * orthogonal (max pairwise cosine ≈ 0.51), so a classic 0.95 near-dup bar
    * would select nothing; 0.45 exercises the operator on the top tail. */
  def dedupEmbedCosine(s: SparkSession, d: String): DataFrame = {
    VectorOps.ensureRegistered(s)
    val e = withVec(Tables.embeddings(s, d))
    // One banded self-join (the LSH-banding shape dedup_minhash uses): bands
    // posexplode into (band_idx, bucket) rows and candidates share any
    // band-bucket; prefixing the bucket string with the band index makes the
    // equality join key (band_idx, bucket) without a second column.
    val bandArr = array(nearDupBands.zipWithIndex.map { case ((f, u), k) =>
      concat(lit(s"$k:"), bucketCol(f, u)) }: _*)
    // Emit each candidate pair ONLY at its first matching band (rows carry
    // the full band array; the predicate is codegen'd element_at compares) —
    // replaces the `.distinct()` shuffle over the multi-band-collision
    // blowup with a per-row filter, same pair set.
    val bands = e.withColumn("ba", bandArr)
      .select(col("vec_id"), col("ba"), posexplode(col("ba")).as(Seq("bidx", "bk")))
    val firstMatch = nearDupBands.indices.map { k =>
      (col("x.bidx") === k) && (0 until k)
        .map(j => element_at(col("x.ba"), j + 1) =!= element_at(col("y.ba"), j + 1))
        .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bidx") === col("y.bidx") && col("x.bk") === col("y.bk") &&
          col("x.vec_id") < col("y.vec_id") && firstMatch)
      .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
    val va = e.select(col("vec_id").as("a_id"), col("emb_d").as("ea"), col("nrm").as("na"))
    val vb = e.select(col("vec_id").as("b_id"), col("emb_d").as("eb"), col("nrm").as("nb"))
    cand.join(va, "a_id").join(vb, "b_id")
      .withColumn("cos", pairCos(col("ea"), col("eb"), col("na"), col("nb")))
      .filter(col("cos") >= 0.45)
      .select(col("a_id"), col("b_id"), col("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** C5: multimodal join — text metadata + embedding vector + norm. */
  def multimodalJoin(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"), "inner")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("label"), VectorOps.norm(col("embedding")).as("emb_norm"))
      .orderBy(col("doc_id"))

  /** C5: binary-column plumbing — text → utf-8 bytes, length + hex prefix. */
  def multimodalBinary(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        octet_length(col("text")).cast(IntegerType).as("n_bytes"),
        upper(hex(encode(substring(col("text"), 1, 8), "UTF-8"))).as("head_hex"))
      .orderBy(col("doc_id"))

  /** C5: decode stub — the Spark-side plumbing for opaque binary media
    * columns. The real image/audio decoder is not available in this
    * environment, so `fakeDecode` is a deterministic stand-in with the same
    * batch shape a vectorized decoder would have (mapPartitions over byte
    * arrays, one metadata row per blob). The geometry columns are exact
    * functions of the byte length, so they ARE oracle-checked (DuckDB
    * octet_length arithmetic); the byte-mean channels stay computed in the
    * decode pass but are excluded from the judged projection — SQL cannot
    * iterate blob bytes without gymnastics. */
  def multimodalDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blobs = Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      .as[(Long, Array[Byte])]
    val decoded = blobs.mapPartitions { it =>
      it.map { case (id, bytes) => fakeDecode(id, bytes) }
    }
    decoded.toDF()
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"))
      .orderBy(col("doc_id"))
  }

  /** C5: frame sampling — the video-side twin of multimodalDecode. The blob
    * is treated as fixed-size frames (16 bytes here standing in for a real
    * codec's frame boundaries); every 4th frame is sampled and fingerprinted
    * in one mapPartitions batch pass — the exact plumbing shape (schema,
    * partitioning, batch iterator, one metadata row per blob) a real
    * frame-sampler has, with the codec swapped for deterministic arithmetic.
    * Geometry columns (n_frames, n_sampled) are exact functions of the byte
    * length and ARE oracle-checked; the sampled-frame checksum stays
    * computed in the pass but out of the judged projection (SQL cannot
    * iterate blob bytes), like decode's channel means. */
  def multimodalFrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blobs = Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      .as[(Long, Array[Byte])]
    val sampled = blobs.mapPartitions { it =>
      it.map { case (id, bytes) => sampleFrames(id, bytes) }
    }
    sampled.toDF()
      .select(col("doc_id"), col("n_bytes"), col("n_frames"), col("n_sampled"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic frame-sampler stand-in: 16-byte frames, every 4th frame
    * sampled, rolling checksum over the sampled bytes. */
  private[graft] def sampleFrames(id: Long, bytes: Array[Byte]): SampledFrames = {
    val frameSize = 16
    val n = bytes.length
    val nFrames = (n + frameSize - 1) / frameSize
    val idx = 0 until nFrames by 4
    var checksum = 0L
    idx.foreach { f =>
      var i = f * frameSize
      val end = math.min(i + frameSize, n)
      while (i < end) { checksum = (checksum * 31 + (bytes(i) & 0xff)) % 1000000007L; i += 1 }
    }
    SampledFrames(id, n, nFrames, idx.length, checksum)
  }

  /** Deterministic stand-in for a media decoder: derives a fake "image"
    * geometry and channel means from the bytes. Replace with a real codec
    * behind the same signature. */
  private[graft] def fakeDecode(id: Long, bytes: Array[Byte]): DecodedBlob = {
    val n = bytes.length
    val width = n % 64 + 1
    val height = n / width + 1
    var s0 = 0L; var s1 = 0L
    var i = 0
    while (i < n) {
      val v = bytes(i) & 0xff
      if (i % 2 == 0) s0 += v else s1 += v
      i += 1
    }
    DecodedBlob(id, n, width, height, s0.toDouble / math.max(1, (n + 1) / 2),
      s1.toDouble / math.max(1, n / 2))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk" -> (simTopk _),
    "search_hybrid_rrf" -> (searchHybridRrf _),
    "sim_topk_agg" -> (simTopkAgg _),
    "sim_ann_lsh" -> (simAnnLsh _),
    "sim_ann_ivf" -> (simAnnIvf _),
    "sim_ann_incremental" -> (simAnnIncremental _),
    "dedup_embed_cosine" -> (dedupEmbedCosine _),
    "ann_recall" -> (annRecall _),
    "ann_recall_ivf" -> (annRecallIvf _),
    "ann_recall_pq" -> (annRecallPq _),
    "sim_ann_pq" -> (simAnnPq _),
    "multimodal_join" -> (multimodalJoin _),
    "multimodal_binary" -> (multimodalBinary _),
    "multimodal_decode" -> (multimodalDecode _),
    "multimodal_framesample" -> (multimodalFrameSample _))

  /** Oracle-side PQ encode/reconstruct CTE chain (shared by ann_recall_pq
    * and sim_ann_pq): expects nothing, defines e/qs/q/cents, the Lloyd
    * refinement rounds rc0→rc$pqIters (assignment + dyadic fixed-point
    * means, slice-for-slice the Spark pqRefine), the final assignment pdf
    * and the wN/xh reconstruction — step-for-step the Spark pqReconstruct. */
  private def pqSqlCtes: String = {
    def sub(c: String, m: Int) = s"$c[${m * pqDim + 1}:${(m + 1) * pqDim}]"
    // squared-L2 argmin columns vs codebook alias r. ‖s_m‖² is precomputed
    // per centroid (rn CTE) — same double as recomputing it per pair, so
    // Spark (which folds it inside the join) still bit-matches. The 4-term
    // dot is expanded to explicit element products: left-assoc a+b+c+d is
    // the same addition order as the Spark fold (whose extra leading 0+
    // can only flip the sign of a zero — comparison-neutral), and it skips
    // the per-pair list_zip allocation that dominated the CTE's cost.
    def dot4(m: Int) = (0 until pqDim).map { i =>
      s"e.emb[${m * pqDim + 1 + i}] * r.s$m[${i + 1}]"
    }.mkString("(", " + ", ")")
    def ds = (0 until pqSub).map { m =>
      s"(r.n$m - 2.0 * ${dot4(m)}) AS d$m"
    }.mkString(",\n       ")
    def norms = (0 until pqSub).map { m =>
      s"${Sql.dotD(s"s$m", s"s$m")} AS n$m"
    }.mkString(", ")
    // per-vector winner per subspace in ONE aggregation: min([d, c_id])
    // compares lexicographically exactly like Spark's min(struct(d, c)) and
    // DuckDB's row_number ORDER BY d, c_id — but costs one hash aggregate
    // instead of 16 window sorts per pass (c_id ≤ 2^53, exact as double).
    def winAgg = (0 until pqSub).map { m =>
      s"min([d$m, CAST(c_id AS DOUBLE)]) AS w$m"
    }.mkString(", ")
    // dyadic fixed-point mean of subspace m's assigned slices (see pqScale)
    def meanList(m: Int) = (0 until pqDim).map { i =>
      val x = s"emb[${m * pqDim + 1 + i}]"
      s"CAST(sum(CAST(floor($x * 1048576.0) AS BIGINT)) AS DOUBLE)" +
        s" / (CAST(count(*) AS DOUBLE) * 1048576.0)"
    }.mkString("[", ", ", "]")
    val rc0 = "rc0 AS MATERIALIZED (SELECT c_id, " +
      (0 until pqSub).map(m => s"${sub("ce", m)} AS s$m").mkString(", ") +
      " FROM cents)"
    val iters = (0 until pqIters).map { t =>
      val rn = s"rn$t AS MATERIALIZED (SELECT *, $norms FROM rc$t)"
      val pw = s"pw$t AS MATERIALIZED (SELECT vec_id, $winAgg FROM (" +
        s"SELECT e.vec_id, r.c_id,\n       $ds\n" +
        s"       FROM et e CROSS JOIN rn$t r) GROUP BY vec_id)"
      val means = (0 until pqSub).map { m =>
        s"rm${t}_$m AS (SELECT a.c_id, ${meanList(m)} AS s FROM " +
          s"(SELECT vec_id, CAST(w$m[2] AS BIGINT) AS c_id FROM pw$t) a" +
          s" JOIN et USING (vec_id) GROUP BY a.c_id)"
      }.mkString(",\n")
      val next = s"rc${t + 1} AS MATERIALIZED (SELECT r.c_id, " +
        (0 until pqSub).map(m => s"COALESCE(m$m.s, r.s$m) AS s$m").mkString(", ") +
        s" FROM rc$t r " +
        (0 until pqSub).map(m => s"LEFT JOIN rm${t}_$m m$m ON r.c_id = m$m.c_id")
          .mkString(" ") + ")"
      s"$rn,\n$pw,\n$means,\n$next"
    }.mkString(",\n")
    val wins = (0 until pqSub).map { m =>
      s"w$m AS (SELECT p.vec_id, r.s$m FROM pwf p" +
        s" JOIN rc$pqIters r ON CAST(p.w$m[2] AS BIGINT) = r.c_id)"
    }.mkString(",\n")
    val xhat = (0 until pqSub).map(m => s"s$m").mkString(" || ")
    val xhJoin = (1 until pqSub).map(m => s"JOIN w$m USING (vec_id)").mkString(" ")
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |$querySampleSqlCte,
       |q AS (SELECT vec_id AS q_id, emb AS qe FROM e
       |      WHERE vec_id IN (SELECT vec_id FROM qs)),
       |cents AS MATERIALIZED (SELECT vec_id AS c_id, emb AS ce FROM e
       |          ORDER BY md5('c:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $pqK),
       |et AS MATERIALIZED (SELECT vec_id, emb FROM e
       |     ORDER BY md5('t:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $pqTrainN),
       |$rc0,
       |$iters,
       |rnf AS MATERIALIZED (SELECT *, $norms FROM rc$pqIters),
       |pwf AS MATERIALIZED (SELECT vec_id, $winAgg FROM (
       |       SELECT e.vec_id, r.c_id,
       |       $ds
       |       FROM e CROSS JOIN rnf r) GROUP BY vec_id),
       |$wins,
       |xh AS (SELECT vec_id, $xhat AS xhat
       |       FROM w0 $xhJoin)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "sim_ann_pq" -> {
      val adc = Sql.cosineD("q.qe", "x.xhat")
      s"""WITH $pqSqlCtes,
         |pqs AS (SELECT q.q_id, x.vec_id AS n_id, $adc AS adc
         |        FROM q JOIN xh x ON q.q_id <> x.vec_id)
         |SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, adc FROM (
         |  SELECT q_id, n_id, adc, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc DESC, n_id) AS rank FROM pqs)
         |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
    },
    // both arms replayed with identical arithmetic; the fusion is a full
    // outer join so arm-coverage asymmetry (sf0.1: 5k docs vs 2k
    // embeddings) is part of the gate
    "search_hybrid_rrf" -> {
      val cos = Sql.cosineD("qv.qe", "e.emb")
      s"""WITH qids(q_id) AS (VALUES (7), (42), (137)),
         |tok0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |         FROM documents),
         |dtok AS (SELECT DISTINCT doc_id, term FROM tok0),
         |nc AS (SELECT doc_id, count(*) AS nc FROM dtok GROUP BY doc_id),
         |qtok AS (SELECT q_id, term FROM dtok JOIN qids ON doc_id = q_id),
         |nq AS (SELECT q_id, count(*) AS nq FROM qtok GROUP BY q_id),
         |ov AS (SELECT q_id, doc_id, count(*) AS ov
         |       FROM dtok JOIN qtok USING (term) WHERE doc_id <> q_id
         |       GROUP BY q_id, doc_id),
         |jac AS (SELECT q_id, doc_id,
         |          CAST(ov AS DOUBLE) / CAST(nq + nc - ov AS DOUBLE) AS jac
         |        FROM ov JOIN nq USING (q_id) JOIN nc USING (doc_id)),
         |lexr AS (SELECT q_id, doc_id AS cand_id, jac,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY jac DESC, doc_id) AS lex_rank
         |         FROM jac),
         |lex AS (SELECT q_id, cand_id, lex_rank FROM lexr WHERE lex_rank <= 20),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |qv AS (SELECT q_id, emb AS qe FROM e JOIN qids ON vec_id = q_id),
         |cs AS (SELECT qv.q_id, e.vec_id AS cand_id, $cos AS cos
         |       FROM qv JOIN e ON e.vec_id <> qv.q_id),
         |vecr AS (SELECT q_id, cand_id, cos,
         |           row_number() OVER (PARTITION BY q_id
         |                              ORDER BY cos DESC, cand_id) AS vec_rank
         |         FROM cs),
         |vec AS (SELECT q_id, cand_id, vec_rank FROM vecr WHERE vec_rank <= 20),
         |f AS (SELECT coalesce(lex.q_id, vec.q_id) AS q_id,
         |        coalesce(lex.cand_id, vec.cand_id) AS cand_id,
         |        lex_rank, vec_rank
         |      FROM lex FULL OUTER JOIN vec
         |        ON lex.q_id = vec.q_id AND lex.cand_id = vec.cand_id),
         |rr AS (SELECT q_id, cand_id, lex_rank, vec_rank,
         |         coalesce(1.0 / (60.0 + CAST(lex_rank AS DOUBLE)), 0.0)
         |           + coalesce(1.0 / (60.0 + CAST(vec_rank AS DOUBLE)), 0.0) AS rrf
         |       FROM f),
         |rk AS (SELECT q_id, cand_id, lex_rank, vec_rank, rrf,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY rrf DESC, cand_id) AS rank
         |       FROM rr)
         |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rank AS INTEGER) AS rank,
         |  cand_id, CAST(coalesce(lex_rank, -1) AS INTEGER) AS lex_rank,
         |  CAST(coalesce(vec_rank, -1) AS INTEGER) AS vec_rank, rrf
         |FROM rk WHERE rank <= 5
         |ORDER BY q_id, rank""".stripMargin
    },
    "sim_topk" -> {
      val cos = Sql.cosineD("q.qe", "c.ne")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |$querySampleSqlCte,
         |q AS (SELECT vec_id AS q_id, emb AS qe FROM e
         |      WHERE vec_id IN (SELECT vec_id FROM qs)),
         |c AS (SELECT vec_id AS n_id, emb AS ne FROM e),
         |s AS (SELECT q_id, n_id, $cos AS cos
         |      FROM q JOIN c ON q_id <> n_id),
         |r AS (SELECT q_id, n_id, cos,
         |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |      FROM s)
         |SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, cos FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin
    },
    // bounded-heap twin: identical semantics, identical oracle text
    "sim_topk_agg" -> {
      val cos = Sql.cosineD("q.qe", "c.ne")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |$querySampleSqlCte,
         |q AS (SELECT vec_id AS q_id, emb AS qe FROM e
         |      WHERE vec_id IN (SELECT vec_id FROM qs)),
         |c AS (SELECT vec_id AS n_id, emb AS ne FROM e),
         |s AS (SELECT q_id, n_id, $cos AS cos
         |      FROM q JOIN c ON q_id <> n_id),
         |r AS (SELECT q_id, n_id, cos,
         |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |      FROM s)
         |SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, cos FROM r WHERE rank <= 10
         |ORDER BY q_id, rank""".stripMargin
    },
    "sim_ann_lsh" -> {
      val cos = Sql.cosineD("q.qe", "c.ne")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |$querySampleSqlCte,
         |$bucketsSqlCtes,
         |q AS (SELECT vec_id AS q_id, emb AS qe, bucket FROM b
         |      WHERE vec_id IN (SELECT vec_id FROM qs)
         |      UNION ALL
         |      SELECT vec_id, emb, bucket2 FROM b
         |      WHERE vec_id IN (SELECT vec_id FROM qs)),
         |c AS (SELECT vec_id AS n_id, emb AS ne, bucket FROM b),
         |s AS (SELECT q_id, n_id, $cos AS cos
         |      FROM q JOIN c USING (bucket) WHERE q_id <> n_id),
         |r AS (SELECT q_id, n_id, cos,
         |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |      FROM s)
         |SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, cos FROM r WHERE rank <= 3
         |ORDER BY q_id, rank""".stripMargin
    },
    "sim_ann_ivf" -> {
      val ccos = Sql.cosineD("e.emb", "c.ce")
      val cos = Sql.cosineD("q.qe", "c2.ne")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |$querySampleSqlCte,
         |cents AS (SELECT vec_id AS c_id, emb AS ce FROM e WHERE vec_id % 40 = 0),
         |ac AS (SELECT e.vec_id, e.emb, c.c_id, $ccos AS ccos
         |       FROM e CROSS JOIN cents c),
         |ar AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |         ORDER BY ccos DESC, c_id) AS crk FROM ac),
         |assigned AS (SELECT vec_id, emb, c_id AS cell FROM ar WHERE crk = 1),
         |q AS (SELECT vec_id AS q_id, emb AS qe, c_id AS cell FROM ar
         |      WHERE crk <= 2 AND vec_id IN (SELECT vec_id FROM qs)),
         |c2 AS (SELECT vec_id AS n_id, emb AS ne, cell FROM assigned),
         |s AS (SELECT q_id, n_id, $cos AS cos
         |      FROM q JOIN c2 USING (cell) WHERE q_id <> n_id),
         |r AS (SELECT q_id, n_id, cos,
         |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |      FROM s)
         |SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, cos FROM r WHERE rank <= 3
         |ORDER BY q_id, rank""".stripMargin
    },
    "sim_ann_incremental" -> {
      val ccos = Sql.cosineD("e.emb", "c.ce")
      val cos = Sql.cosineD("q.qe", "c2.ne")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |$querySampleSqlCte,
         |cents AS (SELECT vec_id AS c_id, emb AS ce FROM e
         |          WHERE vec_id % 40 = 1),
         |ac AS (SELECT e.vec_id, e.emb, c.c_id, $ccos AS ccos
         |       FROM e CROSS JOIN cents c),
         |ar AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |         ORDER BY ccos DESC, c_id) AS crk FROM ac),
         |assigned AS (SELECT vec_id, emb, c_id AS cell FROM ar WHERE crk = 1),
         |q AS (SELECT vec_id AS q_id, emb AS qe, c_id AS cell FROM ar
         |      WHERE crk <= 2 AND vec_id IN (SELECT vec_id FROM qs)),
         |c2 AS (SELECT vec_id AS n_id, emb AS ne, cell FROM assigned),
         |s AS (SELECT q_id, n_id, $cos AS cos
         |      FROM q JOIN c2 USING (cell) WHERE q_id <> n_id),
         |r AS (SELECT q_id, n_id, cos,
         |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |      FROM s)
         |SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, cos FROM r WHERE rank <= 3
         |ORDER BY q_id, rank""".stripMargin
    },
    "dedup_embed_cosine" -> {
      val cos = Sql.cosineD("ea.emb", "eb.emb")
      val bandCols = nearDupBands.zipWithIndex.map { case ((f, u), k) =>
        s"${bucketSqlExpr("emb", f, u)} AS bk$k" }.mkString(", ")
      val bandEq = nearDupBands.indices.map(k => s"a.bk$k = c.bk$k").mkString(" OR ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |b AS (SELECT vec_id, $bandCols FROM e),
         |cand AS (SELECT DISTINCT a.vec_id AS a_id, c.vec_id AS b_id
         |         FROM b a JOIN b c ON a.vec_id < c.vec_id AND ($bandEq))
         |SELECT cand.a_id, cand.b_id, $cos AS cos
         |FROM cand JOIN e ea ON cand.a_id = ea.vec_id
         |          JOIN e eb ON cand.b_id = eb.vec_id
         |WHERE $cos >= 0.45
         |ORDER BY a_id, b_id""".stripMargin
    },
    "ann_recall" -> {
      val cos = Sql.cosineD("q.qe", "c.ne")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |$querySampleSqlCte,
         |q AS (SELECT vec_id AS q_id, emb AS qe FROM e
         |      WHERE vec_id IN (SELECT vec_id FROM qs)),
         |c AS (SELECT vec_id AS n_id, emb AS ne FROM e),
         |s AS (SELECT q_id, n_id, $cos AS cos FROM q JOIN c ON q_id <> n_id),
         |truth AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM s) WHERE rank <= 3),
         |$bucketsSqlCtes,
         |c2 AS (SELECT vec_id AS n_id, emb AS ne, bucket FROM b),
         |q2 AS (SELECT vec_id AS q_id, emb AS qe, bucket, 1 AS pr FROM b
         |       WHERE vec_id IN (SELECT vec_id FROM qs)
         |       UNION ALL
         |       SELECT vec_id, emb, bucket2, 2 FROM b
         |       WHERE vec_id IN (SELECT vec_id FROM qs)),
         |s2 AS (SELECT q_id, n_id, pr, ${Sql.cosineD("q2.qe", "c2.ne")} AS cos
         |       FROM q2 JOIN c2 USING (bucket) WHERE q_id <> n_id),
         |lsh1 AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM s2 WHERE pr = 1)
         |  WHERE rank <= 3),
         |lsh2 AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM s2) WHERE rank <= 3)
         |SELECT t.q_id,
         |  CAST(sum(CASE WHEN l1.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1,
         |  CAST(sum(CASE WHEN l2.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
         |  CAST(sum(CASE WHEN l1.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(3 AS DOUBLE) AS recall1,
         |  CAST(sum(CASE WHEN l2.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(3 AS DOUBLE) AS recall2
         |FROM truth t LEFT JOIN lsh1 l1 ON t.q_id = l1.q_id AND t.n_id = l1.n_id
         |            LEFT JOIN lsh2 l2 ON t.q_id = l2.q_id AND t.n_id = l2.n_id
         |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
    },
    "ann_recall_ivf" -> {
      val cos = Sql.cosineD("q.qe", "c.ne")
      val ccos = Sql.cosineD("e.emb", "cc.ce")
      val icos = Sql.cosineD("q2.qe", "c2.ne")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |$querySampleSqlCte,
         |q AS (SELECT vec_id AS q_id, emb AS qe FROM e
         |      WHERE vec_id IN (SELECT vec_id FROM qs)),
         |c AS (SELECT vec_id AS n_id, emb AS ne FROM e),
         |s AS (SELECT q_id, n_id, $cos AS cos FROM q JOIN c ON q_id <> n_id),
         |truth AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM s) WHERE rank <= 3),
         |cents AS (SELECT vec_id AS c_id, emb AS ce FROM e WHERE vec_id % 40 = 0),
         |ac AS (SELECT e.vec_id, e.emb, cc.c_id, $ccos AS ccos
         |       FROM e CROSS JOIN cents cc),
         |ar AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |         ORDER BY ccos DESC, c_id) AS crk FROM ac),
         |assigned AS (SELECT vec_id, emb, c_id AS cell FROM ar WHERE crk = 1),
         |c2 AS (SELECT vec_id AS n_id, emb AS ne, cell FROM assigned),
         |q2 AS (SELECT vec_id AS q_id, emb AS qe, c_id AS cell, crk FROM ar
         |       WHERE crk <= 2 AND vec_id IN (SELECT vec_id FROM qs)),
         |s2 AS (SELECT q_id, n_id, q2.crk, $icos AS cos
         |       FROM q2 JOIN c2 USING (cell) WHERE q_id <> n_id),
         |ivf1 AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM s2 WHERE crk = 1)
         |  WHERE rank <= 3),
         |ivf2 AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM s2) WHERE rank <= 3)
         |SELECT t.q_id,
         |  CAST(sum(CASE WHEN l1.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit1,
         |  CAST(sum(CASE WHEN l2.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit2,
         |  CAST(sum(CASE WHEN l1.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(3 AS DOUBLE) AS recall1,
         |  CAST(sum(CASE WHEN l2.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(3 AS DOUBLE) AS recall2
         |FROM truth t LEFT JOIN ivf1 l1 ON t.q_id = l1.q_id AND t.n_id = l1.n_id
         |            LEFT JOIN ivf2 l2 ON t.q_id = l2.q_id AND t.n_id = l2.n_id
         |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
    },
    "ann_recall_pq" -> {
      val cos = Sql.cosineD("q.qe", "c.ne")
      val adc = Sql.cosineD("q.qe", "x.xhat")
      s"""WITH $pqSqlCtes,
         |c AS (SELECT vec_id AS n_id, emb AS ne FROM e),
         |s AS (SELECT q_id, n_id, $cos AS cos FROM q JOIN c ON q_id <> n_id),
         |truth AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM s) WHERE rank <= 3),
         |pqs AS (SELECT q.q_id, x.vec_id AS n_id, $adc AS adc
         |        FROM q JOIN xh x ON q.q_id <> x.vec_id),
         |short AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY adc DESC, n_id) AS rank FROM pqs) WHERE rank <= $pqShortR),
         |rers AS (SELECT s.q_id, s.n_id, s.cos
         |         FROM s JOIN short USING (q_id, n_id)),
         |pqr AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, n_id) AS rank FROM rers) WHERE rank <= 3)
         |SELECT t.q_id,
         |  CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(3 AS DOUBLE) AS recall
         |FROM truth t LEFT JOIN pqr p ON t.q_id = p.q_id AND t.n_id = p.n_id
         |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
    },
    "multimodal_join" ->
      s"""SELECT doc_id, lang, source, n_chars, label,
         | ${Sql.normD(Sql.embD("embedding"))} AS emb_norm
         |FROM documents JOIN embeddings ON doc_id = vec_id
         |ORDER BY doc_id""".stripMargin,
    "multimodal_binary" ->
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        | upper(hex(encode(substring(text, 1, 8)))) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    // mirrors fakeDecode's geometry: width = n % 64 + 1, height = n / width + 1
    "multimodal_decode" ->
      """WITH b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n
        |           FROM documents)
        |SELECT doc_id, n AS n_bytes,
        | CAST(n % 64 + 1 AS INTEGER) AS width,
        | CAST(n // (n % 64 + 1) + 1 AS INTEGER) AS height
        |FROM b ORDER BY doc_id""".stripMargin,
    // mirrors sampleFrames' geometry: 16-byte frames, every 4th sampled
    "multimodal_framesample" ->
      """WITH b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n
        |           FROM documents)
        |SELECT doc_id, n AS n_bytes,
        | CAST((n + 15) // 16 AS INTEGER) AS n_frames,
        | CAST(((n + 15) // 16 + 3) // 4 AS INTEGER) AS n_sampled
        |FROM b ORDER BY doc_id""".stripMargin)
}

/** Output row of the stubbed media decoder (C5). */
case class DecodedBlob(doc_id: Long, n_bytes: Int, width: Int, height: Int,
  mean_even: Double, mean_odd: Double)

/** Output row of the stubbed frame sampler (C5). */
case class SampledFrames(doc_id: Long, n_bytes: Int, n_frames: Int,
  n_sampled: Int, checksum: Long)
