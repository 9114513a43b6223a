package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (broadcast the probe set, scan the
  * corpus once — at 100 TB this is one map-side pass per probe batch, no
  * shuffle until the per-probe top-k aggregation, which TakeOrdered keeps
  * tiny). Scale path: sign-random-projection LSH bucketing that prunes the
  * candidate set before exact scoring.
  *
  * Dot products use `zip_with` + `aggregate` (sequential left fold) over
  * doubles — bitwise-deterministic and engine-reproducible.
  */
object Similarity {

  /** Dot product of two double arrays — native codegen'd Catalyst
    * expression (see graft.functions.DoubleDotProduct). Same sequential
    * left-to-right summation as the composable
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` form, so results are
    * bit-identical, without the per-row intermediate array.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.dotProduct(a, b)

  /** Builtin-only formulation of `dot` (reference semantics / test oracle
    * for the native expression).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Spread a (possibly single-split) corpus across all cores before the
    * per-vector scoring work — conditional: a well-split source gets no
    * extra Exchange (see [[graft.core.Spread.ensureParallel]]).
    */
  private def spread(df: DataFrame): DataFrame =
    graft.core.Spread.ensureParallel(df)

  /** Brute-force cosine top-k: for each probe vector, the k nearest corpus
    * vectors (excluding itself). The probe side is broadcast — the corpus
    * is scanned exactly once regardless of probe count — and the per-probe
    * top-k rides the bounded aggregate ([[graft.functions.BoundedTopK]]),
    * not a window: the window form shuffles every scored pair
    * (|corpus| × |probes| rows — the operator's entire bulk) to sort it,
    * while the bounded aggregate's map-side combine ships at most
    * k × |probes| pairs per task into the exchange. Ordering key is
    * (−cosine asc, id asc) ≡ (cosine desc, id asc); negation is an exact
    * sign-bit flip, so scores and ties are bit-identical to the window
    * form (spec: "brute-force bounded top-k ≡ window form").
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms hoisted into the pre-join projections: cosine(a,b) inline
    // would recompute norm(c) once per (probe, corpus) PAIR — 3 dot
    // products per pair instead of 1 (+ one per row). Same expression
    // values in the same order (dot / (norm(p) * norm(c))), so results
    // are bit-identical to the inline form.
    val c = spread(corpus).select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("_cv"))
      .withColumn("_cn", norm(col("_cv")))
    val p = probes.select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("_pv"))
      .withColumn("_pn", norm(col("_pv")))
    c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"),
        (-(dot(col("_pv"), col("_cv")) / (col("_pn") * col("_cn")))).as("_ns"),
        col("neighbor_id"))
      .groupBy(col("probe_id"))
      // assertNotNull: value-non-null by construction (dot over non-null
      // arrays; corpus key), but parquet schemas say nullable — same
      // handshake as topKJoin
      .agg(org.apache.spark.sql.GraftBridge.boundedTopK(
        org.apache.spark.sql.GraftBridge.assertNotNull(col("_ns")),
        org.apache.spark.sql.GraftBridge.assertNotNull(
          col("neighbor_id").cast("long")), k).as("_top"))
      .select(col("probe_id"), posexplode(col("_top")))
      .select(col("probe_id"), col("col.id").as("neighbor_id"),
        round(-col("col.score"), 6).as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Window formulation of [[bruteForceTopK]] — reference semantics for
    * the bounded-aggregate form's equivalence spec only.
    */
  private[graft] def bruteForceTopKWindow(corpus: DataFrame, probes: DataFrame, k: Int,
                                          idCol: String = "vec_id",
                                          vecCol: String = "embedding"): DataFrame = {
    val c = spread(corpus).select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("_cv"))
    val p = probes.select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("_pv"))
    val scored = c.join(broadcast(p), col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("_pv"), col("_cv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("probe_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("_rn").cast("int").as("rank"))
  }

  /** Deterministic pseudo-random hyperplanes for sign-LSH (fixed LCG seed —
    * reproducible across runs; components in [-1, 1)).
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] = {
    var s = seed
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    Array.fill(nPlanes)(Array.fill(dim)(next()))
  }

  /** Sign-random-projection bucket id: one bit per hyperplane, each
    * hyperplane one array literal in the plan.
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedLit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF-flat ANN: a KMeans coarse quantizer partitions the corpus into
    * cells; each probe searches its `nProbe` nearest cells exactly.
    *
    * Scale shape: the cell id is the corpus partition key — a probe reads
    * nProbe cells (~nProbe/nCells of the corpus), and cell assignment is a
    * map-side argmax over broadcast centroids (score 2*c·x - ||c||^2 is
    * monotone in negative squared distance, computed with the native dot
    * expression). Centroid training is a one-time MLlib KMeans fit with a
    * fixed seed.
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              nCells: Int = 0, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // one-shot path: a throwaway index must not persist (no release hook
    // exists for it — N calls would leak N corpus copies in storage)
    buildIvf(corpus, nCells, idCol, vecCol, cache = false).topK(probes, k, nProbe)

  /** Corpus-sized cell count — the FAISS IVF sizing rule (cells ~ sqrt n,
    * so per-cell size AND cell count both grow as sqrt n): a FIXED cell
    * count is the classic 100x trap, because candidate volume for a
    * corpus-x-corpus query is |probes| * nProbe * (n / cells) — with
    * constant cells that is QUADRATIC in n (the sf10 stress tier caught
    * exactly this: 8 fixed cells * 200k probes = 10^10 ADC pairs), while
    * sqrt-scaled cells keep it n^1.5 of which the per-probe share stays
    * flat. Floor 4 (below that "probing a cell" means scanning the
    * corpus), cap 4096 (past a few thousand centers, flat O(cells * d)
    * assignment itself needs ANN-assisted routing — NearestSeed scaladoc),
    * and never more cells than vectors (KMeans k <= n).
    */
  private[graft] def autoCells(n: Long): Int =
    math.max(1L, math.min(n,
      math.min(4096L, math.max(4L, math.round(math.sqrt(n.toDouble)))))).toInt

  /** Build the IVF index once; `topK` queries it many times (the
    * production ANN lifecycle — index build is the expensive one-time
    * step; at scale `cells` is written out partitioned by cell id).
    * `cache = true` persists the inverted file for repeated queries;
    * leave false for one-shot use. `nCells <= 0` (the default) sizes the
    * cell count from the corpus via [[autoCells]].
    */
  def buildIvf(corpus: DataFrame, nCells: Int = 0,
               idCol: String = "vec_id", vecCol: String = "embedding",
               cache: Boolean = true): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val c = spread(corpus).select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("_cv"))
    // sized from the RAW corpus (same row count as c): footer-metadata
    // count when it's a bare parquet scan — no sizing scan job
    val k = if (nCells > 0) nCells else autoCells(graft.core.RowCounts.of(corpus))
    val model = new KMeans().setK(k).setMaxIter(5).setSeed(42)
      .setFeaturesCol("features")
      .fit(c.withColumn("features", array_to_vector(col("_cv"))))
    val centers = model.clusterCenters.map(_.toArray)
    // native argmax (NearestCenter, tieHigh = array_max's struct-max tie
    // rule): at sqrt-n cell counts the composable array-of-structs form
    // generates a > 64 KB codegen method (447 cells at the 100x tier) —
    // Janino refuses it and the WHOLE assignment stage silently fell
    // back to interpreted, paying the ~100x literal/struct overhead the
    // native family exists to remove. Bit-identical: same sequential
    // dot accumulation, same score, same tie winner (spec-pinned with a
    // duplicated-center tie fixture).
    val assigned = c.withColumn("cell",
      org.apache.spark.sql.GraftBridge.nearestCenter(col("_cv"), centers,
        tieHigh = true).getField("cell"))
    new IvfIndex(if (cache) assigned.persist() else assigned, centers, idCol, vecCol)
  }

  /** Current generation of a saved IVF index, if the directory uses the
    * generation layout (`_ivf_gen` pointer file + `gen=N/` data dirs).
    * Pre-generation saves (data directly under `dir/`) read as None and
    * keep working; [[retrainIvf]] migrates them to `gen=1` on its first
    * swap.
    */
  def ivfGeneration(spark: org.apache.spark.sql.SparkSession,
                    dir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir, "_ivf_gen")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      raw.trim.toLongOption
    }
  }

  /** Directory holding the CURRENT generation's cells/centroids/appends. */
  private def ivfDataDir(spark: org.apache.spark.sql.SparkSession,
                         dir: String): String =
    ivfGeneration(spark, dir).map(n => s"$dir/gen=$n").getOrElse(dir)

  private def writeIvfGeneration(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, gen: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_ivf_gen")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(dir, "._ivf_gen.tmp")
    val out = fs.create(tmp, true)
    try out.write(gen.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** Re-open a saved IVF index ([[IvfIndex.save]]): the inverted file is
    * read lazily (cell-partition pruning applies at query time), only the
    * small centroid matrix is collected. Idempotent batch appends
    * ([[IvfIndex.appendBatchTo]]) live under the generation's `appends`
    * and are unioned in transparently.
    */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, dir: String,
              idCol: String = "vec_id", vecCol: String = "embedding",
              cache: Boolean = true): IvfIndex = {
    val d = ivfDataDir(spark, dir)
    val centers = spark.read.parquet(s"$d/centroids").orderBy("cell").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    val base = spark.read.parquet(s"$d/cells")
    val appendsPath = new org.apache.hadoop.fs.Path(s"$d/appends")
    val fs = appendsPath.getFileSystem(spark.sessionState.newHadoopConf())
    val cells =
      if (fs.exists(appendsPath))
        base.unionByName(
          spark.read.parquet(s"$d/appends").drop("_batch_id")
            .select(base.columns.map(col): _*))
      else base
    new IvfIndex(if (cache) cells.persist() else cells, centers, idCol, vecCol)
  }

  /** Staleness signals of a saved IVF index — the drift contract's
    * measurable side. `appendFraction` is appended rows over base rows
    * (how much of the index never saw centroid training); `maxCellShare`
    * is the hottest cell's share of all rows (appends assigned to frozen
    * centroids pile into the cells nearest the drifted mixture, and a hot
    * cell degrades both recall-per-probe and probe cost). One aggregation
    * job over the index's parquet (counts only, no vectors).
    */
  case class IvfStaleness(baseRows: Long, appendRows: Long, maxCellShare: Double,
                          nCells: Int) {
    def appendFraction: Double =
      if (baseRows == 0) Double.PositiveInfinity else appendRows.toDouble / baseRows
    /** Hot-cell skew relative to the uniform share 1/nCells. */
    def imbalance: Double = maxCellShare * nCells
    def isStale(maxAppendFraction: Double = 0.25, maxImbalance: Double = 4.0): Boolean =
      appendFraction > maxAppendFraction || imbalance > maxImbalance
  }

  def ivfStaleness(spark: org.apache.spark.sql.SparkSession, dir: String): IvfStaleness = {
    val d = ivfDataDir(spark, dir)
    val base = spark.read.parquet(s"$d/cells")
    val appendsPath = new org.apache.hadoop.fs.Path(s"$d/appends")
    val fs = appendsPath.getFileSystem(spark.sessionState.newHadoopConf())
    val appends =
      if (fs.exists(appendsPath))
        spark.read.parquet(s"$d/appends").select(col("cell"), lit(true).as("_app"))
      else spark.emptyDataFrame.select(lit(0).as("cell"), lit(true).as("_app")).limit(0)
    val all = base.select(col("cell"), lit(false).as("_app")).unionByName(appends)
    val perCell = all.groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(when(col("_app"), 1L).otherwise(0L)).as("na"))
      .agg(sum(col("n")).as("total"), sum(col("na")).as("appended"),
        max(col("n")).as("hottest"), count(lit(1)).as("cells"))
      .collect().head
    val total = perCell.getAs[Long]("total")
    val appended = perCell.getAs[Long]("appended")
    val nCells = spark.read.parquet(s"$d/centroids").count().toInt
    IvfStaleness(total - appended, appended,
      if (total == 0) 0.0 else perCell.getAs[Long]("hottest").toDouble / total,
      nCells)
  }

  /** Re-train a saved IVF index over everything it currently holds (base
    * cells + appends) and ATOMICALLY swap the result in: the new
    * generation's cells/centroids land under `dir/gen=N+1` first, then
    * the `_ivf_gen` pointer swings by write-tmp-then-rename, then the
    * old generation is GC'd. Readers resolve the pointer at load time,
    * so they see the old index until the swing and the new one after —
    * never a half-written mix; a crash before the swing leaves the old
    * index intact (re-trigger re-trains), a crash after leaves a stray
    * old-gen dir the next retrain sweeps.
    *
    * The appended rows join the training set, so the new centroids see
    * the drifted mixture — this is the re-train trigger closing the
    * [[IvfIndex.appendBatchTo]] drift contract: call when
    * [[ivfStaleness]] crosses the deployment's thresholds (every K
    * appends, or on imbalance alerts).
    */
  def retrainIvf(spark: org.apache.spark.sql.SparkSession, dir: String,
                 idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val cur = ivfDataDir(spark, dir)
    val curGen = ivfGeneration(spark, dir).getOrElse(0L)
    val union = loadIvf(spark, dir, idCol, vecCol, cache = false).cells
      .select(col("neighbor_id").as(idCol), col("_cv").as(vecCol))
    val nCells = spark.read.parquet(s"$cur/centroids").count().toInt
    val fresh = buildIvf(union, nCells, idCol, vecCol, cache = false)
    val nextGen = curGen + 1
    fresh.save(s"$dir/gen=$nextGen")
    writeIvfGeneration(spark, dir, nextGen)
    // GC after the pointer swing: delete the previous generation (or the
    // pre-generation layout's root-level data dirs), plus any stray
    // older gens a crashed retrain left behind
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath).foreach { p =>
      val n = p.getName
      val staleGen = n.startsWith("gen=") &&
        n.stripPrefix("gen=").toLongOption.exists(_ < nextGen)
      val legacyData = Seq("cells", "centroids", "appends").contains(n)
      if (staleGen || legacyData) fs.delete(p, true)
    }
    loadIvf(spark, dir, idCol, vecCol)
  }

  class IvfIndex private[operators] (
      /** Corpus bucketed by nearest centroid — the inverted file. */
      val cells: DataFrame,
      /** Trained centroid matrix (public: oracle generation embeds it). */
      val centers: Array[Array[Double]],
      idCol: String, vecCol: String) {

    /** A probe's `n` nearest cells, nearest first (the native ranker
      * over 2·c·x − ||c||², the centroid matrix one expression
      * parameter); ties to the HIGHER cell, the order of the
      * reverse(array_sort(struct(score, cell))) form this index was
      * built on.
      */
    private def probeCells(vec: Column, n: Int): Column =
      org.apache.spark.sql.GraftBridge.nearestCells(vec, centers, n, tieHigh = true)

    /** Persist the index: the inverted file partitioned BY CELL — at scale
      * a probe's scan touches only its nProbe cell directories (partition
      * pruning), never the full corpus — plus the centroid matrix.
      */
    def save(dir: String): Unit = {
      cells.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
      val spark = cells.sparkSession
      import spark.implicits._
      centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    }

    /** Assign a batch of NEW vectors to the existing centroids — the
      * production epoch lifecycle: centroids retrain rarely (a drifted
      * mixture is a rebuild), while arrivals are assigned map-side and
      * appended. A pure projection per row (argmax over nCells scores),
      * no shuffle, no k-means job.
      */
    def assign(batch: DataFrame): DataFrame =
      spread(batch).select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("_cv"))
        .withColumn("cell",
          // same native argmax + tie rule as buildIvf's assignment
          org.apache.spark.sql.GraftBridge.nearestCenter(col("_cv"), centers,
            tieHigh = true).getField("cell"))

    /** Append a new batch to a SAVED index directory: assignment rides
      * the existing centroids and the rows land in their cell partitions
      * (dynamic append — untouched cells' files are not rewritten).
      * `loadIvf` then serves the union; probing all cells remains exact
      * brute force over old + new (pinned by spec).
      *
      * NOT replay-idempotent: appending the same batch twice duplicates
      * its rows (and its ids in query results). A pipeline that can
      * replay batches must use [[appendBatchTo]] (the batch-id overwrite
      * sink — pinned by the OperatorsSpec case "IVF idempotent append")
      * or dedup on id at query time.
      */
    def appendTo(dir: String, batch: DataFrame): Unit =
      assign(batch).write.mode("append").partitionBy("cell")
        .parquet(s"${ivfDataDir(cells.sparkSession, dir)}/cells")

    /** Replay-idempotent append — the same batch-id partition-overwrite
      * sink as [[graft.streaming.PlugRunner]]: the assigned batch lands
      * under the generation's `appends/_batch_id=<id>/cell=<c>/` with
      * dynamic partition overwrite, so replaying a (batchId, batch) pair
      * is a pure overwrite of its own directories, never a duplicate
      * (cell assignment is a deterministic argmax over the frozen
      * centroids, so a replay touches exactly the same partitions).
      * [[Similarity.loadIvf]] unions the appends in and drops
      * `_batch_id`; query results after a replay are identical to a
      * single append (spec: "IVF idempotent append").
      *
      * DRIFT CONTRACT: appends assign to the generation's FROZEN
      * centroids forever — if the appended distribution drifts from the
      * training mixture, rows pile into the nearest existing cells and
      * recall-per-probe degrades with no error. Monitor
      * [[Similarity.ivfStaleness]] (append fraction, cell imbalance) and
      * call [[Similarity.retrainIvf]] when it crosses the deployment's
      * thresholds; the retrain folds every appended row into the new
      * training set and swaps generations atomically (spec: "IVF
      * retrain").
      */
    def appendBatchTo(dir: String, batchId: Long, batch: DataFrame): Unit =
      assign(batch).withColumn("_batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id", "cell")
        .parquet(s"${ivfDataDir(cells.sparkSession, dir)}/appends")

    def topK(probes: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
      val p = probes.select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("_pv"))
        .withColumn("cell", explode(probeCells(col("_pv"), nProbe)))
      val scored = cells.join(broadcast(p), Seq("cell"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .withColumn("cosine", cosine(col("_pv"), col("_cv")))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      scored.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k)
        .select(col("probe_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("_rn").cast("int").as("rank"))
    }

    /** Exactly-scored candidates from each probe's `maxProbe` nearest
      * cells, with the cell's rank (1 = nearest) riding every row.
      * IVF probe sets NEST by construction — the nProbe=n candidate set
      * is precisely `cell_rank <= n` of the nProbe=maxProbe set — so a
      * recall/parameter sweep computes the cell assignment and the
      * corpus join ONCE and derives each configuration by filtering this
      * frame, instead of paying a full assignment + scan per nProbe
      * (the sim_ivf_recall gate's three configs share one pass).
      * `cosine` is unrounded (the same ranking key [[topK]] uses); a
      * downstream top-k over `cell_rank <= n` reproduces `topK(_, k, n)`
      * row-for-row (pinned by spec).
      */
    def rankedCandidates(probes: DataFrame, maxProbe: Int): DataFrame = {
      val p = probes
        .select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("_pv"))
        .select(col("probe_id"), col("_pv"), norm(col("_pv")).as("_pn"),
          posexplode(probeCells(col("_pv"), maxProbe)).as(Seq("_pos", "cell")))
      // probe norm hoisted before the join (bit-identical — see
      // bruteForceTopK); the corpus norm stays inline: candidates touch
      // ~nProbe/nCells of the corpus, so a per-candidate norm is cheaper
      // than a norm column over every cell row
      cells.join(broadcast(p), Seq("cell"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"),
          (dot(col("_pv"), col("_cv")) / (col("_pn") * norm(col("_cv"))))
            .as("cosine"),
          (col("_pos") + 1).cast("int").as("cell_rank"))
    }
  }

  // ------------------------------------------------------------------ ivf-pq

  /** IVF-PQ — the at-scale ANN composition (the FAISS IVFPQ structure):
    * the IVF coarse quantizer prunes a query to nProbe cells, and within
    * a cell each vector is stored as the PQ codes of its RESIDUAL
    * (vec − cellCenter). Residuals concentrate near zero, so the same
    * codebook budget quantizes them far more precisely than raw vectors;
    * a query runs asymmetric-distance (ADC) per probed cell — the
    * probe's per-cell residual builds an m×k exact-distance table, and
    * each corpus vector costs m lookups. Raw corpus floats are never
    * read at query time.
    *
    * Determinism: fixed-seed k-means centers (assignment via the fused
    * [[graft.functions.NearestCenter]]); PQ codebooks = the residual
    * subspaces of the `kCodes` smallest-id vectors — the seed-codebook
    * rule shared with [[Embeddings.buildPq]] (production swaps in
    * per-subspace trained codebooks).
    *
    * Scale shape: `codes` is the only corpus-sized artifact (cell id +
    * m small code ids per vector — persisted partitioned BY CELL, a
    * probe's join touches nProbe partitions); centers and codebooks are
    * dimension-sized state that enters a query plan as parameters of
    * native expressions; the query distance table is built in the plan,
    * probes × nProbe × m × k rows, broadcast. The residual pass is one
    * broadcast join + map (no shuffle of the corpus).
    */
  def buildIvfPq(corpus: DataFrame, nCells: Int = 0, m: Int = 8,
                 kCodes: Int = 16, idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 cache: Boolean = true): IvfPqIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    // cache the prepared vectors through the build: KMeans iterates them
    // 5 times, the seed-residual collect reads them once more, and the
    // codes frame derives from them — without the cache that is three-plus
    // full scan+cast passes over the corpus
    val c = spread(corpus).select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("_cv")).cache()
    // nCells <= 0 (default): corpus-sized via autoCells — a fixed cell
    // count makes corpus-x-corpus ADC quadratic in n (see autoCells)
    val kc = if (nCells > 0) nCells else autoCells(c.count())
    val model = new KMeans().setK(kc).setMaxIter(5).setSeed(42)
      .setFeaturesCol("features")
      .fit(c.withColumn("features", array_to_vector(col("_cv"))))
    val centers = model.clusterCenters.map(_.toArray)
    val centersDf = broadcast(centers.zipWithIndex
      .map { case (ctr, i) => (i, ctr.toSeq) }.toSeq.toDF("cell", "_ctr"))
    val resid = c.withColumn("cell",
        org.apache.spark.sql.GraftBridge.nearestCenter(col("_cv"), centers)
          .getField("cell"))
      .join(centersDf, "cell")
      .withColumn("_rv", zip_with(col("_cv"), col("_ctr"), (a, b) => a - b))
    val seedRes = resid.select(col("neighbor_id"), col("_rv"))
      .orderBy("neighbor_id").limit(kCodes).collect()
      .map(_.getSeq[Double](1).toArray)
    val d = seedRes.head.length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val subDim = d / m
    val codebooks = Array.tabulate(m)(s =>
      seedRes.map(_.slice(s * subDim, (s + 1) * subDim)))
    val codes = resid.select(col("neighbor_id"), col("cell"),
        explode(org.apache.spark.sql.GraftBridge.pqEncode(
          col("_rv"), codebooks, subDim)).as("_e"))
      .select(col("neighbor_id"), col("cell"),
        col("_e.subspace").as("subspace"), col("_e.code").as("code"))
    // cache=false means NO caching (one-shot build-and-save), matching
    // [[buildIvf]]'s contract — a scoped cache here would be yanked by
    // the harness's release() under a caller that expects a live index
    val kept = if (cache) codes.persist() else codes
    // the vector cache only needs to outlive the build: once codes are
    // (lazily) defined, their first materialization re-reads the source
    // scan — one pass, the same cost class as any cold index build
    c.unpersist()
    new IvfPqIndex(kept, centers, codebooks, subDim)
  }

  class IvfPqIndex private[operators] (
      /** Coded corpus: (neighbor_id, cell, subspace, code). */
      val codes: DataFrame,
      val centers: Array[Array[Double]],
      val codebooks: Array[Array[Array[Double]]],
      val subDim: Int) {

    /** A probe's `n` nearest cells, nearest first; ties to the LOWER
      * cell, the ORDER BY score DESC, cell ASC the IVF-PQ oracles
      * replicate.
      */
    private def probeCells(vec: Column, n: Int): Column =
      org.apache.spark.sql.GraftBridge.nearestCells(vec, centers, n, tieHigh = false)

    /** Approximate top-k per probe over the nProbe nearest cells:
      * (probe_id, neighbor_id, approx_dist, rank). approx_dist is the
      * rounded ADC residual distance (comparable within a probe; smaller
      * is nearer); ties break by neighbor id. Self-pairs are kept (the
      * serving shape). Building the plan runs no Spark job: probes stay a
      * DataFrame, and their distance table is built in the plan
      * ([[rankedCandidates]]) and broadcast.
      */
    def topK(probes: DataFrame, kNN: Int, nProbe: Int = 2,
             probeIdCol: String = "vec_id",
             probeVecCol: String = "embedding"): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("approx_dist"), col("neighbor_id"))
      rankedCandidates(probes, nProbe, probeIdCol, probeVecCol)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= kNN)
        .select(col("probe_id"), col("neighbor_id"), col("approx_dist"), col("rank"))
    }

    /** ADC-scored candidates from each probe's `maxProbe` nearest cells,
      * with the cell's rank (1 = nearest) riding every row. Probe sets
      * NEST (the coarse quantizer is the same as IVF-flat's), so a
      * (nProbe, recall) sweep computes the cell ranking, the code join,
      * and the ADC sums ONCE and derives each configuration as
      * `cell_rank <= n` — [[IvfIndex.rankedCandidates]]'s contract
      * carried to the PQ path. [[topK]] IS the maxProbe = nProbe special
      * case of this frame, so filter + top-k reproduces it row-for-row
      * by construction (still pinned by spec).
      */
    def rankedCandidates(probes: DataFrame, maxProbe: Int,
                         probeIdCol: String = "vec_id",
                         probeVecCol: String = "embedding"): DataFrame = {
      val kC = codebooks.head.length
      // the distance table, built in the plan next to the probes:
      // probe -> its ranked cells -> one m×k ADC table per (probe, cell)
      // -> one row per table entry, entry s*k + c being (subspace s,
      // code c). probes × maxProbe × m × k rows, broadcast.
      val t = broadcast(probes
        .select(col(probeIdCol).cast("long").as("probe_id"),
          asDouble(col(probeVecCol)).as("_p"))
        .select(col("probe_id"), col("_p"),
          posexplode(probeCells(col("_p"), maxProbe)).as(Seq("_pos", "cell")))
        .select(col("probe_id"), col("cell"),
          (col("_pos") + 1).as("cell_rank"),
          posexplode(org.apache.spark.sql.GraftBridge.pqAdcTable(
            col("_p"), col("cell"), centers, codebooks, subDim)).as(Seq("_e", "pd")))
        .select(col("probe_id"), col("cell"), col("cell_rank"),
          (col("_e") / kC).cast("int").as("subspace"),
          (col("_e") % kC).as("code"), col("pd")))
      // rounded before ranking — the shuffle-sum tie-determinism rule
      codes.join(t, Seq("cell", "subspace", "code"))
        .groupBy(col("probe_id"), col("neighbor_id"))
        .agg(round(sum(col("pd")), 6).as("approx_dist"),
          // each corpus vector lives in exactly one cell, so the rank is
          // constant within the group; min is the deterministic pick
          min(col("cell_rank")).as("cell_rank"))
    }

    /** Corpus packed one row per vector: (neighbor_id, cell,
      * _codes = [code_0..code_{m-1}] by subspace) — the join-side layout
      * of [[topKJoin]], where the per-pair ADC cost is m array lookups
      * over a single row instead of an m-way (cell, subspace, code) join
      * + re-aggregation. One corpus shuffle at index-prep time; at scale
      * this is the form persisted partitioned by cell.
      */
    lazy val packedCodes: DataFrame = codes
      .groupBy(col("neighbor_id"), col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("subspace"), col("code")))),
        e => e.getField("code")).as("_codes"))

    /** Distributed corpus×corpus ADC top-k: probes STAY a DataFrame at
      * any cardinality, and nothing of theirs is broadcast. This is the
      * batch-analytics complement of [[topK]] (whose broadcast
      * per-entry distance table is the right shape only for
      * serving-style probe sets): per probe, the nProbe nearest cells
      * expand map-side (the [[graft.functions.NearestCells]] score
      * 2·c·p − ||c||², ties to the smaller cell — the oracle's ORDER BY
      * score DESC, cell ASC),
      * the per-(probe, cell) m×k distance table is built EXECUTOR-SIDE
      * by the native [[graft.functions.PqAdcTable]] (centers/codebooks
      * ride inside the expression as dimension-sized state), candidates
      * arrive via an equi join on (cell, salt), and each pair costs m
      * table lookups ([[graft.functions.PqAdcSum]]) — raw corpus floats
      * are never read, exactly the FAISS ADC contract.
      *
      * Skew: `cell` alone has only nCells distinct values — far fewer
      * than task slots — so the corpus side salts by
      * pmod(xxhash64(id), salts) and the probe side replicates each
      * (probe, cell) row into all salts (the Dedup salt-split pair-join
      * pattern): join parallelism becomes nCells × salts, with the
      * probe-side fanout bounded at nProbe × salts small rows per probe.
      * Self-pairs are excluded (a corpus probed against itself is the
      * dedup/recommendation shape; the serving [[topK]] keeps them).
      */
    def topKJoin(probes: DataFrame, kNN: Int, nProbe: Int = 2,
                 probeIdCol: String = "vec_id",
                 probeVecCol: String = "embedding",
                 salts: Int = 8): DataFrame = {
      require(salts >= 1 && nProbe >= 1)
      val kC = codebooks.head.length
      val p = spread(probes)
        .select(col(probeIdCol).cast("long").as("probe_id"),
          asDouble(col(probeVecCol)).as("_p"))
        .withColumn("cell", explode(probeCells(col("_p"), nProbe)))
        .withColumn("_tbl", org.apache.spark.sql.GraftBridge.pqAdcTable(
          col("_p"), col("cell"), centers, codebooks, subDim))
        .select(col("probe_id"), col("cell"), col("_tbl"))
        .withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
      val c = packedCodes.withColumn("_salt",
        pmod(xxhash64(col("neighbor_id")), lit(salts.toLong)).cast("int"))
      // per-probe top-k via the BOUNDED aggregate, not a window: a
      // window would shuffle every candidate pair (|probes| × nProbe ×
      // cellSize rows — the quadratic-ish bulk of the operator) to sort
      // it; BoundedTopK's map-side combine caps each task's contribution
      // at k pairs per probe, so the exchange carries the answer size,
      // not the candidate size (spec-pinned equal to the window form)
      c.join(p, Seq("cell", "_salt"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"),
          round(org.apache.spark.sql.GraftBridge.pqAdcSum(
            col("_tbl"), col("_codes"), kC), 6).as("approx_dist"),
          col("neighbor_id"))
        .groupBy(col("probe_id"))
        // assertNotNull: both columns are value-non-null by construction
        // (ADC sum over non-null codes; ids from the corpus key), but the
        // parquet schema says nullable — BoundedTopK refuses nullable
        // inputs (null rank is undefined there), so assert, don't skip
        .agg(org.apache.spark.sql.GraftBridge.boundedTopK(
          org.apache.spark.sql.GraftBridge.assertNotNull(col("approx_dist")),
          org.apache.spark.sql.GraftBridge.assertNotNull(
            col("neighbor_id").cast("long")), kNN).as("_top"))
        .select(col("probe_id"), posexplode(col("_top")))
        .select(col("probe_id"), col("col.id").as("neighbor_id"),
          col("col.score").as("approx_dist"),
          (col("pos") + 1).cast("int").as("rank"))
    }
  }

  /** Multi-table sign-LSH ANN: L independent hash tables of b hyperplane
    * bits each; a corpus vector is a candidate for a probe when they share
    * a bucket in ANY table (classic OR-amplification), then exact cosine +
    * top-k within candidates only.
    *
    * Scale shape: each (table, bucket) is a join key — the corpus is hashed
    * once per table map-side, candidates arrive via an equi join instead of
    * a cross product, and at 100 TB the (table, bucket) pair doubles as the
    * storage partition key so a probe touches L small partitions, never the
    * full corpus. Recall is tuned by (b, L) per the 1-(1-p^b)^L curve.
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              bitsPerTable: Int = 4, nTables: Int = 8, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // one-shot path: don't persist a throwaway index (see ivfTopK)
    buildLsh(corpus, bitsPerTable, nTables, dim, idCol, vecCol, cache = false)
      .topK(probes, k)

  /** Build the multi-table LSH index once (the corpus-side hashing is the
    * one-time build step; at scale the (table, bucket) pair is the storage
    * partition key); `topK` queries it many times. `cache = true`
    * persists the hashed corpus for the build-once/query-many lifecycle.
    */
  def buildLsh(corpus: DataFrame, bitsPerTable: Int = 4, nTables: Int = 8,
               dim: Int = 64, idCol: String = "vec_id",
               vecCol: String = "embedding", cache: Boolean = true): LshIndex =
    new LshIndex(corpus, bitsPerTable, nTables, dim, idCol, vecCol, cache)

  class LshIndex private[operators] (
      corpus: DataFrame, bitsPerTable: Int, nTables: Int, dim: Int,
      idCol: String, vecCol: String, cache: Boolean = true) {

    private val tables = (0 until nTables).map(t =>
      t -> hyperplanes(bitsPerTable, dim, seed = 7L + 131 * t))

    private def bucketed(df: DataFrame, idName: String): DataFrame = {
      val entries = tables.map { case (t, planes) =>
        struct(lit(t).as("tbl"), lshBucket(col("_v"), planes).as("bucket"))
      }
      df.select(col(idName), col("_v"), explode(array(entries: _*)).as("tb"))
        .select(col(idName), col("_v"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    }

    /** Corpus hashed into all tables — the hash-table side (persisted only
      * for the build-once/query-many lifecycle).
      */
    val buckets: DataFrame = {
      val b = bucketed(
        spread(corpus).select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("_v")),
        "neighbor_id").withColumnRenamed("_v", "_cv")
      if (cache) b.persist() else b
    }

    def topK(probes: DataFrame, k: Int): DataFrame = {
      val p = bucketed(
        probes.select(col(idCol).as("probe_id"), asDouble(col(vecCol)).as("_v")), "probe_id")
        .withColumnRenamed("_v", "_pv")
      // cosine BEFORE the cross-table dedup: duplicates of a (probe,
      // neighbor) pair score identically, the dot product is a codegen'd
      // map-side pass on the broadcast join output, and the
      // dropDuplicates shuffle then moves 24-byte (ids, score) rows
      // instead of two embedding vectors per row — at 100 TB the
      // difference between shuffling scores and shuffling the corpus
      val scored = buckets.join(broadcast(p), Seq("tbl", "bucket"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .withColumn("cosine", cosine(col("_pv"), col("_cv")))
        .select("probe_id", "neighbor_id", "cosine")
        .dropDuplicates("probe_id", "neighbor_id")
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      scored.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k)
        .select(col("probe_id"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"), col("_rn").cast("int").as("rank"))
    }
  }
}
