package graft.embed

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.spark.{functions => gf}

/** Similarity search over an embedding column (`embeddings(vec_id,
  * embedding float[], label)`).
  *
  *  - [[cosineTopK]] — exact brute-force top-k by cosine, the correctness
  *    baseline: broadcast the (sampled) query set against the full table;
  *    dot products run inside whole-stage codegen via `zip_with` +
  *    `aggregate` (no UDF), ranking via a window per query.
  *  - [[hyperplaneLshTopK]] — the scale path: random-hyperplane sign
  *    buckets (multi-table) restrict candidates to colliding vectors before
  *    exact re-scoring; recall vs brute force is a tested property.
  *
  * All math in double (`float` input upcast) with left-to-right summation
  * so the DuckDB oracle (`list_cosine_similarity` on `DOUBLE[]`) reproduces
  * the scores.
  */
object Ann {

  private def vecD(c: Column): Column = transform(c, x => x.cast("double"))

  /** cosine similarity of two double arrays (codegen-friendly builtins). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x * x), lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** (vec_id, v double[], norm) with the cast and norm computed once per
    * row (not per pair) — dot products run through the codegen'd `vec_dot`
    * kernel; the cosine formula dot/(na·nb) stays bit-identical to the
    * DuckDB oracle. */
  private def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("norm", sqrt(gf.vec_dot(col("v"), col("v"))))

  /** exact top-k neighbors for every query row (`queryFilter` samples the
    * query side — at scale you never brute-force every row). Output:
    * (query_id, neighbor_id, rank, sim) with sim rounded to 1e-6 so
    * cross-engine float noise cannot flip ranks (ties break by id). */
  def cosineTopK(emb: DataFrame, k: Int = 10, queryFilter: Column = lit(true)): DataFrame = {
    val base = withNorm(emb)
    val queries = base.where(queryFilter)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = base.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(gf.vec_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 6).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** all pairs with cosine ≥ tau among the `queryFilter`-selected left side
    * (exact; brute force against the broadcast full table — a bounded
    * correctness probe, not the at-scale dup channel: the registered driver
    * query caps the left side to a fixed id budget so the contract surface
    * carries no unbounded O(N²) plan; the full dup-pair path at scale is the
    * LSH/IVF candidate channels). */
  def cosineDupPairs(emb: DataFrame, tau: Double, queryFilter: Column = lit(true)): DataFrame = {
    val base = withNorm(emb)
    base.where(queryFilter)
      .select(col("vec_id").as("id_a"), col("v").as("va"), col("norm").as("na"))
      .crossJoin(broadcast(base.select(col("vec_id").as("id_b"), col("v").as("vb"), col("norm").as("nb"))))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(gf.vec_dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("sim"))
      .where(col("sim") >= tau)
  }

  /** deterministic pseudo-random hyperplane component for (table, plane, dim). */
  private def hyperplaneSignBits(v: Column, table: Int, planes: Int, dim: Int): Column = {
    // plane p component j = ±1 from fmix64(table, p, j) — computed via
    // Spark's xxhash64 on the literal triple (codegen'd, no broadcast needed)
    val bits = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(v, sequence(lit(0), lit(dim - 1)), (x, j) =>
          x * when(pmod(xxhash64(lit(table), lit(p), j), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF (inverted-file) ANN — the scale path for top-k search: a coarse
    * quantizer (deterministically-seeded Lloyd iterations) partitions the
    * base vectors into `centroids` lists; each query exactly re-scores only
    * the `nprobe` nearest lists. `nprobe = centroids` degenerates to exact
    * brute force (tested), giving a tunable recall/cost dial. Centroids are
    * tiny (centroids × dim doubles) — computed distributed, collected, and
    * broadcast back. */
  def ivfTopK(emb: DataFrame, k: Int = 10, centroids: Int = 16, nprobe: Int = 4,
      lloydIters: Int = 2, queryFilter: Column = lit(true)): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // row norms computed ONCE: every cosine below is vec_dot/(norm·cnorm)
    // through the codegen'd kernel — the N×centroids assignment sweep is the
    // dominant cost and must not pay the interpreted zip_with/aggregate path
    val base = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("norm", sqrt(gf.vec_dot(col("v"), col("v"))))
    val n = base.count()
    // no vectors means no centroid to seed (assign would build greatest()
    // over zero arguments); brute force over the empty table is the same
    // empty (query_id, neighbor_id, rank, sim) result
    if (n == 0) return cosineTopK(emb, k, queryFilter)
    val stride = math.max(1L, n / centroids)
    def withCnorm(c: DataFrame): DataFrame =
      c.withColumn("cnorm", sqrt(gf.vec_dot(col("cvec"), col("cvec"))))
    // unpartitioned window is bounded: it renumbers the ≤`centroids` seed
    // rows surviving the limit above (WindowExec's single-partition warning
    // here is over ≤16 rows, not the corpus)
    var cent = withCnorm(base.where(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy("vec_id").limit(centroids)
      .select((row_number().over(org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1)
        .as("cid"), col("v").as("cvec")))
      .localCheckpoint()

    // Nearest-centroid assignment as a NARROW projection over the collected
    // centroid literals (r6, guide §2.4 "remove shuffles outright"): the
    // centroid frame is ≤ `centroids` rows (bounded by the seed limit), so
    // collecting it is a bounded driver read, and the former
    // crossJoin(broadcast) + partial/final max_by hash aggregate — one
    // exchange of N×centroids scored rows per assign, × (lloydIters+1)
    // assigns — collapses into a shuffle-free map stage. Value-identical to
    // the aggregate form: sims use the same vec_dot/(norm·cnorm) expression
    // with the SPARK-computed cnorm shipped as a literal (never recomputed
    // on the driver), and greatest() over (sim, -cid, cid) structs picks
    // exactly max_by's (sim, -cid)-maximal cid (cids are distinct, so the
    // order is total and tie-free).
    def assign(c: DataFrame): DataFrame = {
      val centRows = c.select(col("cid"), col("cvec"), col("cnorm")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
        .sortBy(_._1)
      val packed = centRows.map { case (cid, cvec, cnorm) =>
        struct(
          (gf.vec_dot(col("v"), typedLit(cvec)) / (col("norm") * lit(cnorm))).as("sim"),
          lit(-cid).as("ncid"), lit(cid).as("cid"))
      }
      val cidCol =
        if (packed.length == 1) lit(centRows.head._1)
        else greatest(packed.toIndexedSeq: _*).getField("cid")
      base.select(col("vec_id"), col("v"), col("norm"), cidCol.as("cid"))
    }

    var it = 0
    while (it < lloydIters) {
      val a = assign(cent)
      val means = a.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cid").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cid"), transform(col("ps"), p => p.getField("m")).as("cvec"))
      cent = withCnorm(means).localCheckpoint()
      it += 1
    }

    val assigned = assign(cent).localCheckpoint()
    val queries = assigned.where(queryFilter)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"))
    // top-nprobe lists per query, shuffle-free (r6): build the per-query
    // (−csim, cid) array from the SAME collected centroid literals as
    // assign, sort it in-row and slice — value-identical to the former
    // crossJoin + collect_list aggregate (collect_list gathered exactly
    // these centroids rows in arbitrary order; array_sort normalizes both
    // to the same ascending (−csim, cid) order), minus one exchange of
    // N_queries×centroids rows. struct(−csim, cid) ascending == csim desc
    // with cid tiebreak.
    val centRows = cent.select(col("cid"), col("cvec"), col("cnorm")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    val csims = centRows.map { case (cid, cvec, cnorm) =>
      struct(
        (-(gf.vec_dot(col("qv"), typedLit(cvec)) / (col("qnorm") * lit(cnorm)))).as("nsim"),
        lit(cid).as("cid"))
    }
    val probes = queries
      .select(col("query_id"), col("qv"), col("qnorm"),
        explode(slice(array_sort(array(csims.toIndexedSeq: _*)), 1, nprobe)
          .getField("cid")).as("cid"))
    // the dominant queries×candidates stage pays ONE dot product per pair:
    // both norms were computed once upstream and carried here — recomputing
    // them per pair would triple the FLOPs of the re-score
    val scored = probes.join(
        assigned.select(col("cid"), col("vec_id").as("neighbor_id"), col("v"), col("norm")), "cid")
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(gf.vec_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 6).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** LSH ANN: `tables` independent sign-bucket tables of `planes` bits;
    * candidates = bucket collisions in any table; exact re-score + top-k.
    * Effective for HIGH-similarity retrieval (near-duplicate embeddings,
    * cos ≳ 0.9); for modest-similarity top-k on unstructured data use
    * [[ivfTopK]] — random hyperplanes cannot beat the p=(1−θ/π)^planes
    * collision curve there (tested in AnnSpec). */
  def hyperplaneLshTopK(emb: DataFrame, k: Int = 10, tables: Int = 8, planes: Int = 12,
      queryFilter: Column = lit(true)): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    lshTopKImpl(emb, k, tables, queryFilter,
      t => hyperplaneSignBits(col("v"), t, planes, dim))
  }

  /** deterministic ±1.0 hyperplane matrix (tables × planes × dim) from MD5
    * (component (t,p,j) = +1 iff the LOW BIT of the FIRST digest byte of
    * md5("hp:t:p:j") is 0, i.e. the digest's second hex character is even) —
    * the cross-engine sign source of the oracle-gated twin: the SAME values
    * are embedded as SQL literals in `SparkEntry.oracleSql`, so both engines
    * bucket on identical hyperplanes and the whole LSH output (buckets →
    * collision join → re-score → top-k) is reproducible rows+schema+hash. */
  def md5SignMatrix(tables: Int, planes: Int, dim: Int): Array[Array[Array[Double]]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(tables, planes, dim) { (t, p, j) =>
      val b = digest.digest(s"hp:$t:$p:$j".getBytes("UTF-8"))
      if ((b(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** the oracle-gated LSH twin: identical pipeline to [[hyperplaneLshTopK]]
    * (same explode/collision-join/dedup/re-score/top-k code), with sign bits
    * from an explicit literal hyperplane matrix (see [[md5SignMatrix]])
    * instead of the inline xxhash64 planes, so an independent SQL engine
    * reproduces the buckets. Sign bit = (v · plane ≥ 0): the products are
    * exact sign flips of the input doubles and both engines sum
    * left-to-right, so the bucket keys match bit-for-bit. */
  def hyperplaneLshTopKLiteral(emb: DataFrame, k: Int,
      signs: Array[Array[Array[Double]]], queryFilter: Column = lit(true)): DataFrame =
    lshTopKImpl(emb, k, signs.length, queryFilter, { t =>
      signs(t).zipWithIndex.map { case (plane, p) =>
        val pv = array(plane.map(lit(_)): _*)
        when(gf.vec_dot(col("v"), pv) >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    })

  /** shared LSH pipeline: bucket each vector in `tables` sign tables
    * (`bucketBits(t)` = the table-t bucket key over column `v`), join bucket
    * collisions per table, dedup candidate pairs, exact re-score, top-k. */
  private def lshTopKImpl(emb: DataFrame, k: Int, tables: Int,
      queryFilter: Column, bucketBits: Int => Column): DataFrame = {
    // norm computed ONCE per row and carried through the collision join —
    // the re-score then pays one dot product per candidate pair instead of
    // recomputing both vectors' norms pairwise (3× the FLOPs)
    val base = emb.select(col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("norm", sqrt(gf.vec_dot(col("v"), col("v"))))
    val keyed = base.withColumn("tk", explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"), bucketBits(t).as("b"))
      }: _*)))
      .select(col("vec_id"), col("v"), col("norm"), col("tk.t").as("t"), col("tk.b").as("b"))
    val queries = keyed.where(queryFilter)
      .select(col("t"), col("b"), col("vec_id").as("query_id"),
        col("v").as("qv"), col("norm").as("qnorm"))
    val cand = keyed.select(col("t"), col("b"), col("vec_id").as("neighbor_id"),
        col("v"), col("norm"))
      .join(queries, Seq("t", "b"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("qnorm"),
        col("v"), col("norm"))
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      round(gf.vec_dot(col("qv"), col("v")) / (col("qnorm") * col("norm")), 6).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }
}
