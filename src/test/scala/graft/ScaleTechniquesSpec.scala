package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._

/** Scale techniques with verifiable evidence: salting equivalence and
  * bucketed co-located joins (no shuffle in the physical plan).
  */
class ScaleTechniquesSpec extends SparkSpec {

  private lazy val events = graft.core.Tables.events(spark, "/root/testdata/sf0.001")

  test("salted join returns the same rows as a plain join") {
    val users = events.select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("seg_"), col("user_id") % 3))
    val plain = events.join(users, Seq("user_id"))
      .groupBy("segment").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedJoin(events, users, Seq("user_id"), factor = 4)
      .groupBy("segment").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }

  test("salted two-phase count equals direct groupBy count") {
    val direct = events.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(events, Seq("event_type"), factor = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === direct)
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val n = 16 // warehouse dir is a per-JVM temp dir (GraftSession.local)
    events.select(col("user_id"), col("event_id"), col("value"))
      .write.mode("overwrite").bucketBy(n, "user_id").sortBy("user_id")
      .saveAsTable("ev_bucketed")
    events.groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .write.mode("overwrite").bucketBy(n, "user_id")
      .saveAsTable("stats_bucketed")
    // force the non-broadcast path: bucketing only matters for
    // shuffle-based joins (a broadcast join never shuffles anyway)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("ev_bucketed")
        .join(spark.table("stats_bucketed"), Seq("user_id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join, got:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(joined.count() === events.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE ev_bucketed"); spark.sql("DROP TABLE stats_bucketed")
    }
  }

  test("RegexRedact is bit-identical to the composable count-then-replace chain and evaluates once per pattern") {
    import org.apache.spark.sql.functions.{regexp_extract_all, regexp_replace, size => fsize}
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        concat(col("text"), lit(" a.b-x%9@mail.example 10.0.0."),
          col("doc_id") % 250, lit(" id 123456789 e@f"), lit(" @nope 1.2.3"),
          lit(" x@y.zw 999.999.999.999")).as("text"))
    val fused = graft.operators.TextAnalysis.redactPii(docs)
      .select("doc_id", "n_emails", "n_ipv4", "n_digit_runs", "text_redacted")
    def cnt(c: org.apache.spark.sql.Column, re: String) =
      fsize(regexp_extract_all(c, lit(re), lit(0))).cast("long")
    import graft.operators.TextAnalysis.{EmailRe, Ipv4Re, DigitRunRe}
    val composable = docs
      .withColumn("n_emails", cnt(col("text"), EmailRe))
      .withColumn("_r1", regexp_replace(col("text"), EmailRe, "<EMAIL>"))
      .withColumn("n_ipv4", cnt(col("_r1"), Ipv4Re))
      .withColumn("_r2", regexp_replace(col("_r1"), Ipv4Re, "<IP>"))
      .withColumn("n_digit_runs", cnt(col("_r2"), DigitRunRe))
      .withColumn("text_redacted", regexp_replace(col("_r2"), DigitRunRe, "<ID>"))
      .select("doc_id", "n_emails", "n_ipv4", "n_digit_runs", "text_redacted")
    assert(fused.except(composable).isEmpty && composable.except(fused).isEmpty,
      "fused redaction must be bit-identical to the composable chain")
    // the whole chain is ONE hand-rolled scanner evaluation
    // (CollapseProject must keep the non-cheap alias, not inline a
    // second evaluation per struct field)
    val p = fused.queryExecution.executedPlan.toString
    val evals = "graft_pii_redact".r.findAllIn(p).size
    assert(evals == 1, s"expected 1 fused PII scanner in the plan, found $evals:\n$p")
  }

  test("PiiRedact hand-rolled scanner is bit-identical to the java-regex chain on adversarial and fuzzed inputs") {
    import graft.operators.TextAnalysis.{EmailRe, Ipv4Re, DigitRunRe}
    // oracle: the exact java.util.regex chain the scanner replaces
    def oracle(s: String): (Long, Long, Long, String) = {
      def pass(t: String, re: String, tok: String): (Long, String) = {
        val m = java.util.regex.Pattern.compile(re).matcher(t)
        var n = 0L; val sb = new java.lang.StringBuilder; var last = 0
        while (m.find()) { n += 1; sb.append(t, last, m.start()).append(tok); last = m.end() }
        sb.append(t, last, t.length); (n, sb.toString)
      }
      val (ne, t1) = pass(s, EmailRe, "<EMAIL>")
      val (ni, t2) = pass(t1, Ipv4Re, "<IP>")
      val (nd, t3) = pass(t2, DigitRunRe, "<ID>")
      (ne, ni, nd, t3)
    }
    val scanner = new graft.functions.PiiRedact.Scanner("<EMAIL>", "<IP>", "<ID>")
    def run(s: String): (Long, Long, Long, String) = {
      val r = scanner.apply(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
    }
    // Real inputs are valid-UTF-8 UTF8Strings; a LONE surrogate (which
    // random char-indexing of the 😀 pair produces) cannot exist in one
    // — UTF8String.fromString replaces it — so canonicalize through the
    // same round-trip both arms would see in a plan before comparing
    // (and before interpolating into failure messages: an unpaired
    // surrogate in a test name/message crashes sbt's JUnit XML writer
    // and aborts the whole forked run).
    def canon(s: String): String =
      org.apache.spark.unsafe.types.UTF8String.fromString(s).toString
    val adversarial = Seq(
      "", "@", "a@", "@a", "a@b", "a@b.c", "a@b.co", "a@b.co1", "a@b.c1o",
      "a@@b.com", "a@b@c.de", "a@b..com", "a@.com", "a@b.-com", "a@b-.co",
      "x@y.zw 999.999.999.999", "a.b-x%9@mail.example", "user@mail.example.",
      "user@mail.example.c", "u@a.bc.de", "u@a.bc.d", "_@x.yz", "%+-.@x.yz",
      "пример@тест.рф", "café@mail.com", "a@b.com1234567", "1234567a@b.cd",
      "1.2.3.4", "1.2.3.4.5", "1234.5.6.7", "1.2.3.4567", "01.002.0003.4",
      "a1.2.3.4", "1.2.3.4b", "-1.2.3.4-", ".1.2.3.4.", "1.2.3.4@x.yz",
      "1.2..3.4", "1..2.3.4", "999.999.999.9999", "10.0.0.250 ref 37000000",
      "123456", "1234567", "12345678", "1234567a", "a1234567", "_1234567",
      "1234567_", "12345671234567", " 1234567 ", "1.234567890.2.3",
      "contact user42@mail.example from 10.42.0.42 ref 37001554",
      "x".repeat(300) + "@y.zw", "9".repeat(300), "1.2.3." + "4".repeat(300))
    for (s0 <- adversarial) { val s = canon(s0)
      assert(run(s) === oracle(s), s"mismatch on <<$s>>") }
    // fuzz: PII-dense alphabet so matches and near-misses are common;
    // the surrogate pair (😀) gets split by random char indexing — after
    // canon() those lone halves become literal '?' like any real plan
    // input would, while intact pairs exercise the supplementary plane
    val alphabet = "ab1290._%+-@ .\t<>…_😀"
    val rnd = new scala.util.Random(421414)
    var i = 0
    while (i < 4000) {
      val len = rnd.nextInt(60)
      val s = canon((0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      assert(run(s) === oracle(s), s"fuzz mismatch on <<$s>>")
      i += 1
    }
    // digit/dot-dense fuzz: stresses the IPv4 {1,3} backtracking and
    // digit-run boundary cases specifically
    val digitsDots = "0123456789._a-"
    i = 0
    while (i < 4000) {
      val len = rnd.nextInt(40)
      val s = canon((0 until len).map(_ => digitsDots(rnd.nextInt(digitsDots.length))).mkString)
      assert(run(s) === oracle(s), s"digit fuzz mismatch on <<$s>>")
      i += 1
    }
  }

  test("Layout: manifest round-trip re-registers the bucketed layout; orderkey join runs exchange-free and sort-free; Tables redirect is opt-in and src-keyed") {
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("layout").toString
    val li = graft.core.Tables.lineitem(spark, sf)
    val ord = graft.core.Tables.orders(spark, sf)
    val fpLi = graft.core.Layout.fingerprint(new java.io.File(s"$sf/lineitem.parquet"))
    val fpOrd = graft.core.Layout.fingerprint(new java.io.File(s"$sf/orders.parquet"))
    graft.core.Layout.writeBucketed(li, "t_b_lineitem", s"$dir/b_lineitem", "l_orderkey", 8,
      srcFingerprint = Some(fpLi))
    graft.core.Layout.writeBucketed(ord, "t_b_orders", s"$dir/b_orders", "o_orderkey", 8,
      srcFingerprint = Some(fpOrd))
    // fresh-session simulation: drop the catalog entries, re-register
    // from the on-disk manifest alone
    spark.sql("DROP TABLE t_b_lineitem"); spark.sql("DROP TABLE t_b_orders")
    val bl = graft.core.Layout.bucketedFromManifest(spark, "m_b_lineitem", s"$dir/b_lineitem")
    val bo = graft.core.Layout.bucketedFromManifest(spark, "m_b_orders", s"$dir/b_orders")
    assert(bl.isDefined && bo.isDefined, "manifest re-registration failed")
    assert(bl.get.schema === li.schema, "layout must preserve the schema")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = bo.get.join(bl.get, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed orderkey join must be exchange-free:\n$p")
      assert(!" Sort \\[".r.findFirstIn(p).isDefined,
        s"sorted buckets must satisfy the SMJ ordering with no Sort node:\n$p")
      // identical results to the flat layout
      val flat = ord.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
      assert(joined.except(flat).isEmpty && flat.except(joined).isEmpty,
        "bucketed join must return exactly the flat join's rows")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // Tables redirect: fires only with BOTH confs set and a matching src
    def planOf(d: String) =
      graft.core.Tables.lineitem(spark, d).queryExecution.optimizedPlan.toString
    assert(!planOf(sf).contains("m_b_lineitem") && !planOf(sf).contains("b_lineitem_"),
      "no redirect without the opt-in conf")
    spark.conf.set("spark.graft.layout.dir", dir)
    spark.conf.set("spark.graft.layout.src", sf)
    try {
      val redirected = graft.core.Tables.lineitem(spark, sf)
      assert(redirected.queryExecution.optimizedPlan.toString.contains("b_lineitem"),
        "redirect must serve the bucketed layout for the matching src")
      assert(redirected.count() === li.count())
      // a DIFFERENT sfDir in the same session keeps its flat read: the
      // layout never answers for data it wasn't built from
      val other = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.01")
      assert(!other.queryExecution.optimizedPlan.toString.contains("b_lineitem"),
        "redirect must not fire for a different sfDir")
      // staleness fence: a layout whose recorded source fingerprint does
      // not match the flat file NOW must refuse to answer
      assert(graft.core.Layout.bucketedFromManifest(spark, "t_stale",
        s"$dir/b_lineitem", Some("0:0")).isEmpty,
        "a fingerprint mismatch must disqualify the layout")
    } finally {
      spark.conf.unset("spark.graft.layout.dir")
      spark.conf.unset("spark.graft.layout.src")
      spark.sql("DROP TABLE IF EXISTS m_b_lineitem")
      spark.sql("DROP TABLE IF EXISTS m_b_orders")
    }
  }

  test("Layout v2 accelerate: unscaled columns bit-identical to the per-row cast; q1 zero-diff through the layout; version fence rejects pre-v2 manifests") {
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("layout_v2").toString
    val br = org.apache.spark.sql.GraftBridge
    val li = graft.core.Tables.lineitem(spark, sf)
    val acc = graft.core.Layout.accelerate(li, "lineitem")
    // each derived column equals the query-side cast it replaces, bit for
    // bit (null-safe compare: dec(4,2) nulls on |x| >= 100 by design)
    for ((name, p) <- graft.core.Layout.unscaledCols("lineitem")) {
      val bad = acc.select(col(s"${name}_u2").as("a"),
        br.unscaled(col(name).cast(org.apache.spark.sql.types.DecimalType(p, 2))).as("b"))
        .filter(!(col("a") <=> col("b")))
      assert(bad.isEmpty, s"derived ${name}_u2 diverges from the cast")
    }
    // identity for tables with no derived columns
    assert(graft.core.Layout.accelerate(li, "nation").schema === li.schema)
    // full circle: q1 through an accelerated layout == q1 flat
    val ord = graft.core.Tables.orders(spark, sf)
    graft.core.Layout.writeBucketed(acc, "t_v2_lineitem", s"$dir/b_lineitem",
      "l_orderkey", 4, srcFingerprint = Some(graft.core.Layout.fingerprint(
        new java.io.File(s"$sf/lineitem.parquet"))))
    graft.core.Layout.writeBucketed(
      graft.core.Layout.accelerate(ord, "orders"), "t_v2_orders",
      s"$dir/b_orders", "o_orderkey", 4,
      srcFingerprint = Some(graft.core.Layout.fingerprint(
        new java.io.File(s"$sf/orders.parquet"))))
    def run(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    val flat = Seq("q1_pricing_summary", "q5_region_rollup").map(run)
    spark.conf.set("spark.graft.layout.dir", dir)
    spark.conf.set("spark.graft.layout.src", sf)
    try {
      // the redirect must actually serve the derived column to q1
      assert(graft.core.Tables.lineitem(spark, sf).columns
        .contains("l_extendedprice_u2"), "redirect lost the derived columns")
      val lay = Seq("q1_pricing_summary", "q5_region_rollup").map(run)
      assert(lay === flat, "layout path must be zero-diff vs flat")
    } finally {
      spark.conf.unset("spark.graft.layout.dir")
      spark.conf.unset("spark.graft.layout.src")
    }
    // version fence: a manifest without the current "v" is STALE
    val mPath = java.nio.file.Paths.get(s"$dir/b_lineitem", "_layout.json")
    val m = new String(java.nio.file.Files.readAllBytes(mPath))
    java.nio.file.Files.write(mPath,
      m.replace(s""""v":${graft.core.Layout.version},""", "").getBytes)
    assert(graft.core.Layout.bucketedFromManifest(spark, "t_v2_stale",
      s"$dir/b_lineitem").isEmpty, "pre-v2 manifest must be rejected")
    spark.sql("DROP TABLE IF EXISTS t_v2_lineitem")
    spark.sql("DROP TABLE IF EXISTS t_v2_orders")
  }

  test("Layout rebuild guard: clears write debris and interrupted builds, refuses foreign data and foreign _layout.json") {
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("layoutguard").toString
    val nat = spark.read.parquet(s"$sf/nation.parquet")
    def files(p: String) = new java.io.File(p).listFiles().map(_.getName).toSet

    // 1. debris-only directory (crashed write, no marker): clearable
    val p1 = s"$dir/debris"
    new java.io.File(s"$p1/_temporary").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(p1, "part-00000.parquet"), Array[Byte](1))
    java.nio.file.Files.write(java.nio.file.Paths.get(p1, ".part-00000.crc"), Array[Byte](1))
    graft.core.Layout.writeBucketed(nat, "t_guard1", p1, "n_nationkey", 2)
    assert(files(p1).contains("_layout.json"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p1 + ".building")),
      "marker must be removed after a committed build")

    // 2. foreign data: refused
    val p2 = s"$dir/foreign"
    new java.io.File(p2).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(p2, "somebody.csv"), "x".getBytes)
    intercept[IllegalArgumentException](
      graft.core.Layout.writeBucketed(nat, "t_guard2", p2, "n_nationkey", 2))
    assert(files(p2) === Set("somebody.csv"), "foreign data must survive the refusal")

    // 3. a stray _layout.json that is NOT our manifest shape doesn't
    //    license deleting the rest of the directory
    val p3 = s"$dir/stray"
    new java.io.File(p3).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(p3, "_layout.json"), """{"foo":1}""".getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(p3, "somebody.csv"), "x".getBytes)
    intercept[IllegalArgumentException](
      graft.core.Layout.writeBucketed(nat, "t_guard3", p3, "n_nationkey", 2))
    assert(files(p3) === Set("_layout.json", "somebody.csv"))

    // 4. interrupted build (sibling .building marker, arbitrary partial
    //    contents, NO manifest): recognized as ours and rebuilt
    val p4 = s"$dir/interrupted"
    new java.io.File(p4).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(p4 + ".building"), Array.emptyByteArray)
    java.nio.file.Files.write(java.nio.file.Paths.get(p4, "half-written.bin"), Array[Byte](1))
    graft.core.Layout.writeBucketed(nat, "t_guard4", p4, "n_nationkey", 2)
    assert(files(p4).contains("_layout.json") && !files(p4).contains("half-written.bin"))
    assert(graft.core.Layout.bucketedFromManifest(spark, "t_guard4m", p4).get.count() === nat.count())

    // 5. a committed layout (valid manifest) rebuilds in place
    graft.core.Layout.writeBucketed(nat, "t_guard5", p4, "n_nationkey", 2)
    assert(files(p4).contains("_layout.json"))

    // 6. a COMMITTED foreign parquet dataset (_SUCCESS + part-*, no
    //    _temporary, no marker, no manifest) is someone's data, not
    //    debris — refused even though every name matches the debris set
    val p6 = s"$dir/committed_foreign"
    new java.io.File(p6).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(p6, "_SUCCESS"), Array.emptyByteArray)
    java.nio.file.Files.write(java.nio.file.Paths.get(p6, "part-00000.parquet"), Array[Byte](1))
    intercept[IllegalArgumentException](
      graft.core.Layout.writeBucketed(nat, "t_guard6", p6, "n_nationkey", 2))
    assert(files(p6) === Set("_SUCCESS", "part-00000.parquet"),
      "committed foreign dataset must survive the refusal")

    // 7. an UNREADABLE manifest (a directory named _layout.json) must
    //    hit the clean refusal, not escape as a raw IOException
    val p7 = s"$dir/unreadable"
    new java.io.File(s"$p7/_layout.json").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(p7, "somebody.csv"), "x".getBytes)
    intercept[IllegalArgumentException](
      graft.core.Layout.writeBucketed(nat, "t_guard7", p7, "n_nationkey", 2))
    assert(files(p7) === Set("_layout.json", "somebody.csv"))

    Seq("t_guard1", "t_guard4", "t_guard4m", "t_guard5")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("graft_dot is SQL-callable on a configured session") {
    // GraftSession.configure registered the function on the shared session
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect()
    assert(r.head.getDouble(0) === 11.0)
    // and resolves against real columns + agrees with the Column helper
    import spark.implicits._
    val df = Seq((Array(1.0, 0.5), Array(2.0, 4.0))).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT graft_dot(a, b) AS d FROM vecs").collect().head.getDouble(0)
    val viaCol = df.select(graft.operators.Similarity.dot(col("a"), col("b")).as("d"))
      .collect().head.getDouble(0)
    assert(viaSql === viaCol)
    // arity errors surface at analysis, not execution
    val e = intercept[Exception](spark.sql("SELECT graft_dot(array(1.0D))").collect())
    assert(e.getMessage.contains("graft_dot"))
  }

  test("graft_intersect_count matches size(array_intersect) on sorted-distinct arrays") {
    import spark.implicits._
    val br = org.apache.spark.sql.GraftBridge
    // real shingle arrays from documents — the production input shape
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).limit(60)
    val arrs = graft.operators.Dedup.shingleArrays(docs, "text", "doc_id", 3).cache()
    val pairs = arrs.as("a").join(arrs.as("b"), col("a.doc") < col("b.doc"))
      .select(col("a._arr").as("x"), col("b._arr").as("y"))
    val both = pairs.select(
        br.intersectCount(col("x"), col("y")).as("native"),
        size(array_intersect(col("x"), col("y"))).cast("long").as("builtin"))
      .collect()
    assert(both.nonEmpty && both.exists(_.getLong(1) > 0),
      "fixture must exercise non-empty intersections")
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    arrs.unpersist()
    // seeded random sorted-distinct arrays — empties, disjoint, identical,
    // negative values (signed-long ordering), single elements
    val rnd = new scala.util.Random(7)
    val randoms = (0 until 200).map { i =>
      def arr() = rnd.nextInt(4) match {
        case 0 => Array.empty[Long]
        case _ => Array.fill(rnd.nextInt(40) + 1)(rnd.nextLong() % 50)
          .distinct.sorted
      }
      val a = arr()
      (i.toLong, a, if (i % 5 == 0) a else arr())
    }
    val rdf = randoms.toDF("i", "x", "y")
    rdf.select(
        br.intersectCount(col("x"), col("y")).as("native"),
        size(array_intersect(col("x"), col("y"))).cast("long").as("builtin"))
      .collect()
      .foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // null propagation + SQL registration
    val viaSql = spark.sql(
      "SELECT graft_intersect_count(array(1L, 3L, 7L), array(3L, 5L, 7L)) AS c, " +
        "graft_intersect_count(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS n")
      .collect().head
    assert(viaSql.getLong(0) === 2L && viaSql.isNullAt(1))
  }

  test("graft_shingle_hashes is bit-identical to xxhash64 over concat_ws shingles") {
    import spark.implicits._
    // adversarial token shapes: multi-space runs (empty tokens), leading/
    // trailing separators, single tokens, fewer tokens than the window,
    // repeated shingles (distinctness), unicode
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a  b   c a  b   c a b", "  leading and trailing  ", "one",
      "", "exactly three toks", "ab", "á é í ó ú ñ ü 中 文 词",
      "x x x x x x x x", "tab\tis one token here"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for (w <- Seq(2, 3, 8)) {
      val df = texts.toDF("doc_id", "text")
      // reference formulation: the pre-native SQL chain
      val toks = graft.operators.TextAnalysis.tokens(col("text"))
      val ref = df.filter(size(toks) >= w)
        .select(col("doc_id"), array_distinct(transform(
          sequence(lit(0), size(toks) - w),
          i => xxhash64(concat_ws(" ",
            (0 until w).map(j => element_at(toks, i + j + 1)): _*)))).as("hs"))
        .select(col("doc_id"), explode(col("hs")).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val native = df.select(col("doc_id"),
          org.apache.spark.sql.GraftBridge.shingleHashes(col("text"), w).as("hs"))
        .select(col("doc_id"), explode(col("hs")).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(native === ref, s"w=$w")
      // and the SQL registration resolves to the same expression
      df.createOrReplaceTempView("sh_texts")
      val viaSql = spark.sql(
        s"SELECT doc_id, explode(graft_shingle_hashes(text, $w)) AS h FROM sh_texts")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaSql === ref, s"sql w=$w")
    }
  }

  test("fused text natives are bit-identical to their composable formulations") {
    import spark.implicits._
    val texts = Seq(
      "The quick brown fox. Jumps over the lazy dog!",
      "a  b   c a  b   c a b", "  leading, and trailing!  ", "one",
      "", "the the the and of is it on", "á é í ó ú ñ ü 中 文 词",
      "x x x x x x x x", "Line one has five words here.\nshort line\nAnother good line with words?",
      "digits 123 and PUNCT!!! mixed-case Text.",
      "no\nterminal\npunctuation\nanywhere"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    val toks = array_remove(split(col("text"), " ", -1), "")

    // TokenSetHits vs filter/isin + aggregate/transform + regexp chain
    val sets = Seq(graft.operators.TextAnalysis.stopwords,
      Seq("the", "and", "of", "is", "it"))
    val refTs = df.select(col("doc_id"),
        size(toks).cast("long").as("nt"),
        coalesce(aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x), lit(0)).cast("long").as("tc"),
        (length(col("text")) - length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))).cast("long").as("pc"),
        size(filter(toks, t => t.isin(sets.head: _*))).cast("long").as("h0"),
        size(filter(toks, t => t.isin(sets(1): _*))).cast("long").as("h1"),
        size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long").as("alpha"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val natTs = df.select(col("doc_id"),
        org.apache.spark.sql.GraftBridge.tokenSetHits(col("text"), sets).as("a"))
      .collect().map { r =>
        val a = r.getSeq[Long](1); r.getLong(0) -> ((a(0), a(1), a(2), a(3), a(4), a(5)))
      }.toMap
    assert(natTs === refTs)

    // CanonFingerprint vs the md5/regexp chain
    val refFp = df.select(col("doc_id"),
        md5(trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val natFp = df.select(col("doc_id"),
        org.apache.spark.sql.GraftBridge.canonFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(natFp === refFp)

    // C4LineStats vs the nested filter/split chain
    val lines = split(col("text"), "\n", -1)
    val kept = filter(lines, l =>
      size(filter(split(l, " ", -1), wd => wd =!= "")) >= 5 &&
        (l.endsWith(".") || l.endsWith("!") || l.endsWith("?")))
    val refC4 = df.select(col("doc_id"), size(lines).cast("long").as("nl"),
        size(kept).cast("long").as("nk"), array_join(kept, "\n").as("tf"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val natC4 = df.select(col("doc_id"),
        org.apache.spark.sql.GraftBridge.c4LineStats(col("text"), 5).as("c"))
      .select(col("doc_id"), col("c.n_lines"), col("c.n_kept_lines"), col("c.text_filtered"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(natC4 === refC4)

    // SimHashFp vs the explode/aggregate chain it replaces
    val refFps = {
      val ltoks = array_remove(split(lower(col("text")), " ", -1), "")
      val toksDf = df.select(col("doc_id"),
        explode(array_distinct(ltoks)).as("tok"))
      val withH = toksDf.select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
      val sums = (0 until 60).map(j =>
        sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"s$j"))
      val fp = (0 until 60).map(j =>
        when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce((a, b) => a.bitwiseOR(b))
      withH.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
        .select(col("doc_id"), fp.as("fp"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val natFps = df.select(col("doc_id"),
        org.apache.spark.sql.GraftBridge.simHashFp(lower(col("text")), 60).as("fp"))
      .filter(col("fp").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs with no tokens produce no group in the reference chain and a
    // NULL fingerprint in the fused form — after dropping nulls the two
    // formulations must agree EXACTLY, key set included
    assert(natFps === refFps)

    // Md5Hash60 vs the conv/substring/md5 chain
    val refH = df.select(col("doc_id"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val natH = df.select(col("doc_id"),
        org.apache.spark.sql.GraftBridge.md5Hash60(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(natH === refH)

    // TokenTfs vs explode + groupBy(doc, term-hash) counts
    val refTf = df.select(col("doc_id"), explode(toks).as("t"))
      .groupBy(col("doc_id"), xxhash64(col("t")).as("h")).agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val natTf = df.select(col("doc_id"),
        explode(org.apache.spark.sql.GraftBridge.tokenTfs(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.h"), col("tc.tf"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(natTf === refTf)

    // TokenChunks vs transform/slice/array_join for two window/stride shapes
    for ((w, st) <- Seq((3, 3), (4, 2))) {
      val refCh = df.filter(size(toks) > 0).select(col("doc_id"),
          posexplode(transform(sequence(lit(1), size(toks), lit(st)),
            x => array_join(slice(toks, x, lit(w)), " "))))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val natCh = df.select(col("doc_id"),
          posexplode(org.apache.spark.sql.GraftBridge.tokenChunks(col("text"), w, st)))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(natCh === refCh, s"w=$w stride=$st")
    }

    // RepetitionStats consistency: multiplicity stats against the
    // sorted-string formulations (hash order differs; counts must not)
    val bigramLen = greatest(size(toks) - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), bigramLen), slice(toks, lit(2), bigramLen),
      (a, b) => concat_ws(" ", a, b))
    val refRep = df.select(col("doc_id"), size(toks).cast("long").as("nt"),
        size(array_distinct(toks)).cast("long").as("dt"),
        size(bigrams).cast("long").as("nbg"),
        coalesce(aggregate(array_sort(bigrams),
          struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
          (acc, x) => {
            val run = when(x === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1L))
            struct(x.as("prev"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
          }, acc => acc.getField("best")), lit(0L)).as("top"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val natRep = df.select(col("doc_id"),
        org.apache.spark.sql.GraftBridge.repetitionStats(col("text")).as("a"))
      .collect().map { r =>
        val a = r.getSeq[Long](1); r.getLong(0) -> ((a(0), a(1), a(2), a(3)))
      }.toMap
    assert(natRep === refRep)
  }

  test("BoundedTopK equals the row_number window formulation; plans with map-side partials") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // quantized scores force real (score) ties across ids; two extra
    // groups are smaller than k to pin the short-group path
    val rows = (1 to 2000).map(i =>
      (rng.nextInt(20).toLong, math.floor(rng.nextDouble() * 50) / 50.0, i.toLong)) ++
      Seq((990L, 0.5, 9001L), (990L, 0.25, 9002L), (991L, 0.75, 9003L))
    val df = rows.toDF("g", "score", "id").repartition(7)
    val agg = df.groupBy(col("g"))
      .agg(org.apache.spark.sql.GraftBridge.boundedTopK(col("score"), col("id"), 5).as("t"))
    val viaAgg = agg.select(col("g"), posexplode(col("t")))
      .select(col("g"), col("col.score"), col("col.id"), (col("pos") + 1).cast("int").as("rk"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score"), col("id"))
    val viaWin = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3))).toSet
    assert(viaAgg === viaWin)
    // the scale property: ObjectHashAggregate with a partial phase —
    // each map task ships at most k pairs per group into the exchange
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), p.take(400))
    assert(p.contains("partial_graft_bounded_topk"), p.take(400))
  }

  test("BoundedTopK ranks NaN scores last, exactly like the window's ascending sort") {
    import spark.implicits._
    // groups exercise: NaN inside a full buffer (must be evictable),
    // NaN in a short group (must be kept and sorted last), all-NaN
    val rows = Seq(
      (1L, Double.NaN, 10L), (1L, 0.2, 11L), (1L, 0.1, 12L), (1L, 0.3, 13L),
      (1L, Double.NaN, 14L), (1L, 0.15, 15L), (1L, 0.25, 16L),
      (2L, Double.NaN, 20L), (2L, 0.9, 21L),
      (3L, Double.NaN, 30L), (3L, Double.NaN, 31L))
    val df = rows.toDF("g", "score", "id").repartition(3)
    // compare scores by BIT PATTERN: a Double field in a tuple compares
    // with primitive ==, under which NaN != NaN
    val viaAgg = df.groupBy(col("g"))
      .agg(org.apache.spark.sql.GraftBridge.boundedTopK(col("score"), col("id"), 4).as("t"))
      .select(col("g"), posexplode(col("t")))
      .select(col("g"), col("col.score"), col("col.id"), (col("pos") + 1).cast("int").as("rk"))
      .collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getLong(2), r.getInt(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score"), col("id"))
    val viaWin = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
      .collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getLong(2), r.getInt(3))).toSet
    assert(viaAgg === viaWin)
  }

  test("BoundedTopK refuses nullable inputs at analysis time") {
    import spark.implicits._
    val df = Seq((1L, 0.5, 2L)).toDF("g", "score", "id")
    val nullableScore = when(col("id") > 0, col("score")) // nullable by construction
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.groupBy(col("g"))
        .agg(org.apache.spark.sql.GraftBridge.boundedTopK(nullableScore, col("id"), 3))
        .collect()
    }
    assert(e.getMessage.contains("non-nullable"), e.getMessage)
    // and the documented escape hatch: assert, don't skip
    val ok = df.groupBy(col("g"))
      .agg(org.apache.spark.sql.GraftBridge.boundedTopK(
        org.apache.spark.sql.GraftBridge.assertNotNull(nullableScore), col("id"), 3).as("t"))
      .select(posexplode(col("t"))).count()
    assert(ok === 1L)
  }

  test("NgramBucketCounts + DsirScore are bit-identical to the composable DSIR chain") {
    import spark.implicits._
    val texts = Seq(
      "The quick brown fox. Jumps over the lazy dog!",
      "a  b   c a  b   c a b", "  leading, and trailing!  ", "one",
      "", "   ", "the the the and of is it on", "á é í ó ú ñ ü 中 文 词",
      "x x x x x x x x", "digits 123 and PUNCT!!! mixed-case Text."
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    val B = 64
    val bridge = org.apache.spark.sql.GraftBridge

    // reference: the pre-native DSIR featurize — explode unigrams ∪
    // bigrams, md5-60 bucket, groupBy(doc, b) occurrence counts
    val t = df.select(col("doc_id"),
      filter(split(lower(col("text")), " "), x => x =!= "").as("_t"))
    val uni = t.select(col("doc_id"), explode(col("_t")).as("f"))
    val bi = t.select(col("doc_id"), explode(zip_with(col("_t"),
        slice(col("_t"), lit(2), greatest(size(col("_t")) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("f"))
      .filter(col("f").isNotNull)
    val refCounts = uni.unionByName(bi)
      .withColumn("b",
        pmod(conv(substring(md5(col("f")), 1, 15), 16, 10).cast("long"), lit(B)))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val natCounts = df.select(col("doc_id"),
        explode(bridge.ngramBucketCounts(lower(col("text")), B)).as("e"))
      .select(col("doc_id"), col("e.b"), col("e.n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(natCounts === refCounts)

    // the per-doc array is sorted by bucket ascending (the deterministic
    // fold order DsirScore's scaladoc promises)
    val arrs = df.select(bridge.ngramBucketCounts(lower(col("text")), B).as("bc"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0)))
    arrs.foreach(a => assert(a == a.sorted, s"unsorted buckets: $a"))

    // DsirScore vs the aggregate-HOF fold — EXACT double equality (same
    // left-to-right bucket-ascending accumulation)
    val lr = Array.tabulate(B)(i => math.log(i + 2.0) - 1.3)
    val lrCol = typedlit(lr)
    val bc = df.select(col("doc_id"),
        bridge.ngramBucketCounts(lower(col("text")), B).as("bc"))
      .filter(size(col("bc")) > 0)
    val refScore = bc.select(col("doc_id"),
        aggregate(col("bc"), lit(0L), (a, e) => a + e.getField("n")).as("nf"),
        aggregate(col("bc"), lit(0.0), (a, e) => a + e.getField("n") *
          element_at(lrCol, (e.getField("b") + 1).cast("int"))).as("w"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val natScore = bc.select(col("doc_id"), bridge.dsirScore(col("bc"), lr).as("s"))
      .select(col("doc_id"), col("s.n_feats"), col("s.raw_weight"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(natScore === refScore)

    // the SQL registration resolves to the same expression
    df.createOrReplaceTempView("nbc_texts")
    val viaSql = spark.sql(
      s"SELECT doc_id, explode(graft_ngram_bucket_counts(lower(text), $B)) AS e FROM nbc_texts")
      .select(col("doc_id"), col("e.b"), col("e.n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaSql === refCounts)
  }

  test("every registered graft function resolves and evaluates via SQL") {
    val rows = spark.sql(
      """SELECT
        |  graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  size(graft_shingle_hashes('a b c d', 2)) AS nsh,
        |  size(graft_repetition_stats('a b a b')) AS nrep,
        |  graft_canon_fingerprint('A  b!') AS fp,
        |  graft_md5_hash60('tok') AS h60,
        |  graft_simhash_fp('a b c', 60) AS sfp,
        |  size(graft_minhash_sig(array(1L, 2L), 16)) AS nsig,
        |  size(graft_token_chunks('a b c d e', 2, 2)) AS nch,
        |  size(graft_token_tfs('a b a')) AS ntf,
        |  size(graft_token_term_tfs('a b a')) AS nttf,
        |  size(graft_ngram_bucket_counts('a b a', 64)) AS nbc,
        |  graft_token_count(' a  b c ') AS tc,
        |  graft_alnum_run_count('ab12cd') AS arc,
        |  size(graft_l2_normalize(array(3.0D, 4.0D))) AS l2n,
        |  size(graft_quantize_int8(array(1.0D, -2.0D)).quantized) AS q8,
        |  graft_pii_redact('x a@b.cd 12345678').n_emails AS pr
        |""".stripMargin).collect().head
    assert(rows.getDouble(0) === 11.0)
    assert(rows.getInt(1) === 3)
    assert(rows.getInt(2) === 6)
    assert(rows.getString(3).length === 32)
    assert(rows.getLong(4) > 0)
    assert(rows.getInt(6) === 16)
    assert(rows.getInt(7) === 3)
    assert(rows.getInt(8) === 2 && rows.getInt(9) === 2)
    assert(rows.getLong(11) === 3L)   // tc
    assert(rows.getLong(12) === 3L)   // arc: ab|12|cd
    assert(rows.getInt(13) === 2)     // l2n
    assert(rows.getInt(14) === 2)     // q8
    assert(rows.getLong(15) === 1L)   // pr
    // the aggregate registration resolves and sums exactly
    import spark.implicits._
    Seq(150L, 250L).toDF("u").createOrReplaceTempView("u128")
    val s = spark.sql("SELECT CAST(graft_sum128(u, 2) AS STRING) AS s FROM u128")
      .collect().head.getString(0)
    assert(s === "4.00")
  }

  test("sum128 overflow past decimal(38) yields null, like non-ANSI sum+cast") {
    // sums between 10^38 and the int128 max (~1.7e38) fit the two-long
    // accumulator but not decimal(38): evaluation must return null
    // (ADVICE r7), not throw — exercised on the finalizer expression
    // directly because reaching 10^38 through data would take ~1e19
    // max-long rows
    import org.apache.spark.sql.catalyst.expressions.Literal
    def toDec(v: BigInt): Any = graft.functions.Int128ToDecimal(
      Literal((v >> 64).toLong), Literal(v.toLong), 2).eval(null)
    val over = BigInt(10).pow(38) + 7
    assert(toDec(over) == null)
    assert(toDec(-over) == null)
    val under = BigInt(10).pow(38) - 1
    val d = toDec(under).asInstanceOf[org.apache.spark.sql.types.Decimal]
    assert(d.toBigDecimal.bigDecimal.unscaledValue.toString === under.toString)
  }

  test("sum128 declarative carry arithmetic folds exactly like BigInteger over adversarial longs") {
    // the r13 declarative rewrite (codegen'd HashAggregate instead of
    // ObjectHashAggregate) re-expresses the int128 carry as Catalyst
    // expressions; pin VALUE equality against BigInteger over data that
    // wraps the low word constantly in both signs, across partial +
    // merge paths (repartition forces multi-buffer merges)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vals = Seq.fill(2000)(rnd.nextLong()) ++
      Seq(Long.MaxValue, Long.MinValue, -1L, 0L, 1L)
    vals.toDF("u").repartition(7).createOrReplaceTempView("u128b")
    val q = spark.sql(
      "SELECT CAST(graft_sum128(u, 0) AS STRING) AS s FROM u128b")
    assert(q.collect().head.getString(0) === vals.map(BigInt(_)).sum.toString)
    // and the EXECUTED query's aggregation stage actually codegens: a
    // hash aggregate, not the object-agg fallback the imperative form
    // forced (assert on the same plan whose value was just verified)
    assert(!q.queryExecution.executedPlan.toString.contains("ObjectHashAggregate"),
      "sum128 must run under codegen'd HashAggregate")
  }

  test("sum128Product weighted sum is bit-identical to the decimal cast-multiply chain, including both cast null arms") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val rnd = new scala.util.Random(1414)
    // ordinary tf/logprob rows plus every boundary the cast chain can
    // hit: the dec(9,0) overflow fence at ±1e9, the dec(28,18)
    // precision fence at 1e10, NaN/±Inf, ±0.0, negatives, zero weight
    val rows = Seq.fill(3000)(
        (rnd.nextInt(2000).toLong + 1L, -math.log(rnd.nextDouble() + 1e-12))) ++
      Seq((999999999L, -1.23), (1000000000L, -1.23), (-1000000000L, 0.5),
        (-999999999L, 0.5), (7L, Double.NaN), (7L, Double.PositiveInfinity),
        (7L, Double.NegativeInfinity), (3L, 0.0), (3L, -0.0), (5L, 1.0e10),
        (5L, -1.0e10), (5L, 9.999999e9), (0L, -3.14), (-17L, 2.5e-19),
        (17L, -2.5e-19), (1L, 123.456789012345678))
    val df = rows.toDF("tf", "x").repartition(5)
    val br = org.apache.spark.sql.GraftBridge
    def chain = sum(col("tf").cast(DecimalType(9, 0))
      * col("x").cast(DecimalType(28, 18)))
    // global and grouped (grouped exercises partial+merge with many
    // buffers); CAST AS STRING compares scale and value bitwise
    val g = df.agg(chain.cast("string").as("c"),
      br.sum128Product(col("tf"), col("x"), 18).cast("string").as("f")).collect().head
    assert(g.getString(0) === g.getString(1), "global aggregate mismatch")
    val per = df.groupBy((col("tf") % 13).as("k"))
      .agg(chain.cast("string").as("c"),
        br.sum128Product(col("tf"), col("x"), 18).cast("string").as("f"))
      .collect()
    for (r <- per) assert(r.getString(1) === r.getString(2), s"group ${r.get(0)} mismatch")
    // all-null group (NaN-only input) must yield null like the chain
    val nn = Seq((1L, Double.NaN)).toDF("tf", "x")
      .agg(chain.cast("string").as("c"),
        br.sum128Product(col("tf"), col("x"), 18).cast("string").as("f")).collect().head
    assert(nn.isNullAt(0) && nn.isNullAt(1))
    // and the fused form stays inside codegen'd HashAggregate
    val q = df.agg(br.sum128Product(col("tf"), col("x"), 18))
    assert(!q.queryExecution.executedPlan.toString.contains("ObjectHashAggregate"),
      "sum128Product must run under codegen'd HashAggregate")
  }

  test("native L2Normalize + FormatDec6Csv are bit-identical to the composable HOF chains on real and adversarial vectors") {
    import spark.implicits._
    val br = org.apache.spark.sql.GraftBridge
    // real embeddings plus edge vectors: empty, zero, null elements,
    // NaN/Inf poisoning, values across the decimal(10,6) precision
    // fence, negative zero, denormals
    val edges: Seq[(Long, Seq[java.lang.Double])] = Seq(
      (9000001L, Seq.empty[java.lang.Double]),
      (9000002L, Seq[java.lang.Double](0.0, 0.0, 0.0)),
      (9000003L, Seq[java.lang.Double](null, null)),
      (9000004L, Seq[java.lang.Double](1.0, null, -2.0)),
      (9000005L, Seq[java.lang.Double](Double.NaN, 1.0)),
      (9000006L, Seq[java.lang.Double](Double.PositiveInfinity, 1.0)),
      (9000007L, Seq[java.lang.Double](1.0e12, 2.0)),
      (9000008L, Seq[java.lang.Double](9999.9999994, 9999.9999996)),
      (9000009L, Seq[java.lang.Double](-0.0, 1.0e-9, -1.0e-7)),
      (9000010L, Seq[java.lang.Double](java.lang.Double.MIN_VALUE, 1.0)),
      (9000011L, Seq[java.lang.Double](0.1234565, -0.1234575, 3.0)))
    val edgeDf = edges.toDF("vec_id", "embedding")
    val real = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
    for (df <- Seq(edgeDf, real)) {
      // operator-level: native normalize vs the composable chain
      val chainNorm = df
        .select(col("vec_id"), col("embedding").as("_v"))
        .withColumn("_n", sqrt(br.dotProduct(col("_v"), col("_v"))))
        .select(col("vec_id"),
          when(col("_n") === 0.0, col("_v"))
            .otherwise(transform(col("_v"), x => x / col("_n")))
            .as("normalized"))
      val nativeNorm = df.select(col("vec_id"),
        br.l2Normalize(col("embedding")).as("normalized"))
      assert(nativeNorm.except(chainNorm).isEmpty && chainNorm.except(nativeNorm).isEmpty,
        "native L2Normalize must equal the composable chain")
      // gate-level rendering: fused CSV vs round/cast/cast + array_join
      val chainFmt = nativeNorm.select(col("vec_id"),
        array_join(transform(col("normalized"),
          x => round(x, 6).cast("decimal(10,6)").cast("string")), ",").as("s"))
      val nativeFmt = nativeNorm.select(col("vec_id"),
        br.formatDec6Csv(col("normalized")).as("s"))
      assert(nativeFmt.except(chainFmt).isEmpty && chainFmt.except(nativeFmt).isEmpty,
        "fused FormatDec6Csv must equal the composable rendering")
    }
    // float input path (the embeddings table's physical type): native
    // cast-and-normalize equals cast-then-chain
    val fl = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val viaFloat = fl.select(col("vec_id"), br.l2Normalize(col("embedding")).as("n"))
    val viaDouble = fl.select(col("vec_id"),
      br.l2Normalize(transform(col("embedding"), _.cast("double"))).as("n"))
    assert(viaFloat.except(viaDouble).isEmpty && viaDouble.except(viaFloat).isEmpty)
  }

  test("native TokenCount equals size(array_remove(split)) on testdata and edge strings") {
    import spark.implicits._
    val edges = Seq("", " ", "  ", "a", " a", "a ", " a ", "a b", "a  b",
      "  a  b  ", "\ta\tb", "a\nb", "多 字 节", "a b", "😀 x", "…")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .unionByName(edges.toDF("doc_id", "text")
        .withColumn("doc_id", col("doc_id") + 5000000L))
    val br = org.apache.spark.sql.GraftBridge
    val diff = docs.select(col("doc_id"),
        br.tokenCount(col("text")).as("fast"),
        size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long").as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff.isEmpty, diff.limit(5).collect().mkString("; "))
    // and the regex-token counter vs the materializing form, plus
    // alternation adversaria (letter runs adjacent to digit runs)
    val edges2 = Seq("", "a1b2", "abc123", "ABC", "a_b", "1,2", "ştiu42",
      "İstanbul 9", "ab12cd ef", "ß1").zipWithIndex
      .map { case (t, i) => (i.toLong + 6000000L, t) }
    val docs2 = docs.unionByName(edges2.toDF("doc_id", "text"))
    val diff2 = docs2.select(col("doc_id"),
        br.alnumRunCount(lower(col("text"))).as("fast"),
        size(graft.operators.TextAnalysis.regexTokens(col("text"))).cast("long").as("slow"))
      .filter(col("fast") =!= col("slow"))
    assert(diff2.isEmpty, diff2.limit(5).collect().mkString("; "))
  }

  test("native QuantizeInt8 + IntCsv are bit-identical to the composable HOF chains") {
    import spark.implicits._
    val br = org.apache.spark.sql.GraftBridge
    val edges: Seq[(Long, Seq[java.lang.Double])] = Seq(
      (9100001L, Seq.empty[java.lang.Double]),
      (9100002L, Seq[java.lang.Double](0.0, 0.0)),
      (9100003L, Seq[java.lang.Double](null, null)),
      (9100004L, Seq[java.lang.Double](1.0, null, -2.0)),
      (9100005L, Seq[java.lang.Double](Double.NaN, 1.0)),
      (9100006L, Seq[java.lang.Double](Double.PositiveInfinity, -1.0)),
      (9100007L, Seq[java.lang.Double](63.5, -63.5, 0.5, -0.5)),
      (9100008L, Seq[java.lang.Double](1.0e-9, -1.0e-9)),
      (9100009L, Seq[java.lang.Double](-0.0, 127.0, -127.0)),
      (9100010L, Seq[java.lang.Double](0.1234565, -0.1234575, 3.0)))
    val edgeDf = edges.toDF("vec_id", "embedding")
    val real = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("embedding"))
    for (df <- Seq(edgeDf, real)) {
      def asD(c: org.apache.spark.sql.Column) = transform(c, x => x.cast("double"))
      val chain = df.select(
          col("vec_id"), asD(col("embedding")).as("_v"),
          round(aggregate(asD(col("embedding")), lit(0.0),
            (acc, x) => greatest(acc, abs(x))) / 127.0, 6).as("scale"))
        .select(col("vec_id"), col("scale"),
          when(col("scale") === 0.0, transform(col("_v"), _ => lit(0)))
            .otherwise(transform(col("_v"), x => round(x / col("scale"), 0).cast("int")))
            .as("quantized"))
      val native = df.select(col("vec_id"),
          br.quantizeInt8(col("embedding")).as("_q"))
        .select(col("vec_id"), col("_q.scale").as("scale"),
          col("_q.quantized").as("quantized"))
      assert(native.except(chain).isEmpty && chain.except(native).isEmpty,
        "native QuantizeInt8 must equal the composable chain")
      // gate rendering: fused int CSV vs transform + array_join
      val a = native.select(col("vec_id"), br.intCsv(col("quantized")).as("s"))
      val b = native.select(col("vec_id"),
        array_join(transform(col("quantized"), _.cast("string")), ",").as("s"))
      assert(a.except(b).isEmpty && b.except(a).isEmpty,
        "fused IntCsv must equal the composable rendering")
    }
    // float input path equals cast-then-quantize
    val fl = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val vf = fl.select(col("vec_id"), br.quantizeInt8(col("embedding")).as("q"))
    val vd = fl.select(col("vec_id"),
      br.quantizeInt8(transform(col("embedding"), _.cast("double"))).as("q"))
    assert(vf.except(vd).isEmpty && vd.except(vf).isEmpty)
  }

  test("NearestCenter tieHigh assignment is bit-identical to the composable array_max form, including exact score ties") {
    // the composable cell-score chain: array_max over
    // struct(2·c·x − ||c||², cell) with Similarity.dot's sequential fold
    def dotC(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val some = emb.orderBy("vec_id").limit(7).collect()
      .map(_.getSeq[Double](1).toArray)
    // DUPLICATED centers force an exact score tie on every row — the
    // composable struct-max picks the HIGHEST tied cell index, which
    // tieHigh must replicate
    val centers = some ++ some
    val composable = emb.withColumn("cell",
      array_max(array(centers.zipWithIndex.map { case (ctr, i) =>
        val n2 = ctr.map(x => x * x).sum
        struct((dotC(col("v"), array(ctr.map(lit(_)): _*)) * 2 - n2).as("score"),
          lit(i).as("cell"))
      }: _*)).getField("cell")).select("vec_id", "cell")
    val native = emb.withColumn("cell",
      org.apache.spark.sql.GraftBridge.nearestCenter(col("v"), centers,
        tieHigh = true).getField("cell")).select("vec_id", "cell")
    assert(native.except(composable).isEmpty && composable.except(native).isEmpty,
      "tieHigh native assignment must equal the composable struct-max")
    // every winner must be a duplicate-range index (>= 7): the tie rule
    // actually engaged on every row
    assert(native.filter(col("cell") < 7).isEmpty, "tie rule did not engage")
    // and the default (smaller-index) rule picks the ORIGINAL range
    val low = emb.withColumn("cell",
      org.apache.spark.sql.GraftBridge.nearestCenter(col("v"), centers)
        .getField("cell"))
    assert(low.filter(col("cell") >= 7).isEmpty, "default tie rule changed")
    // NaN-poisoned vectors: every score is NaN, which Spark's struct
    // ordering treats as GREATER than everything with NaN == NaN — so
    // array_max picks the HIGHEST cell. The native NaN arm must agree
    // (it used to fall through to cell 0 because IEEE > / == are false).
    // poison IN PLACE (same length — a length change would null-pad the
    // composable zip_with and test null scores, not NaN scores)
    val poisoned = emb.limit(3).withColumn("v",
      transform(col("v"), (x, i) => when(i === 0, lit(Double.NaN)).otherwise(x)))
    val nanComposable = poisoned.withColumn("cell",
      array_max(array(centers.zipWithIndex.map { case (ctr, i) =>
        val n2 = ctr.map(x => x * x).sum
        struct((dotC(col("v"), array(ctr.map(lit(_)): _*)) * 2 - n2).as("score"),
          lit(i).as("cell"))
      }: _*)).getField("cell")).select("vec_id", "cell")
    val nanNative = poisoned.withColumn("cell",
      org.apache.spark.sql.GraftBridge.nearestCenter(col("v"), centers,
        tieHigh = true).getField("cell")).select("vec_id", "cell")
    assert(nanNative.except(nanComposable).isEmpty &&
      nanComposable.except(nanNative).isEmpty,
      "tieHigh NaN arm must equal the composable struct-max")
    assert(nanNative.filter(col("cell") =!= centers.length - 1).isEmpty,
      "NaN scores must rank greatest (highest tied cell wins under tieHigh)")
    // default rule on NaN keeps the smallest cell — same winner as the
    // pre-NaN-arm behavior, now by the documented tie rule
    val nanLow = poisoned.withColumn("cell",
      org.apache.spark.sql.GraftBridge.nearestCenter(col("v"), centers)
        .getField("cell"))
    assert(nanLow.filter(col("cell") =!= 0).isEmpty, "default NaN tie rule")
  }

  test("NearestCells ranks cells exactly as the composable array_sort(struct(score, cell)) form, in both tie directions") {
    def dotC(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val some = emb.orderBy("vec_id").limit(7).collect()
      .map(_.getSeq[Double](1).toArray)
    // DUPLICATED centers: every cell ties with its copy 7 cells up
    val centers = some ++ some
    // one NaN-poisoned vector (in place, same length): every score NaN,
    // so every cell ties
    val vecs = emb.unionByName(emb.orderBy("vec_id").limit(1)
      .select(lit(-1L).as("vec_id"),
        transform(col("v"), (x, i) => when(i === 0, lit(Double.NaN)).otherwise(x)).as("v")))
    def scored(cellKey: Int => Int) = array(centers.zipWithIndex.map { case (ctr, i) =>
      val n2 = ctr.map(x => x * x).sum
      struct((dotC(col("v"), array(ctr.map(lit(_)): _*)) * 2 - n2).as("score"),
        lit(cellKey(i)).as("cell"))
    }: _*)
    def ranked(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.select(col("vec_id"), c.as("cells")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    Seq(1, 3, 20).foreach { n =>
      // tieHigh: score desc, then the HIGHER cell — the IVF-flat order
      val high = ranked(vecs, transform(slice(reverse(array_sort(scored(identity))), 1, n),
        e => e.getField("cell")))
      // default: score desc, then the LOWER cell (cell negated in the key)
      val low = ranked(vecs, transform(slice(reverse(array_sort(scored(i => -i))), 1, n),
        e => -e.getField("cell")))
      val nativeHigh = ranked(vecs,
        org.apache.spark.sql.GraftBridge.nearestCells(col("v"), centers, n, tieHigh = true))
      val nativeLow = ranked(vecs,
        org.apache.spark.sql.GraftBridge.nearestCells(col("v"), centers, n, tieHigh = false))
      assert(nativeHigh === high, s"tieHigh n=$n")
      assert(nativeLow === low, s"tie-low n=$n")
      assert(nativeHigh.values.forall(_.length == math.min(n, centers.length)), s"n=$n length")
      // the tie rule engaged: the best cell is the copy (>= 7) under
      // tieHigh and the original (< 7) otherwise; the NaN row ranks
      // every cell equal, so its order is the cell order alone
      assert(nativeHigh.forall { case (id, cs) => id == -1L || cs.head >= 7 }, s"tieHigh n=$n")
      assert(nativeLow.forall { case (id, cs) => id == -1L || cs.head < 7 }, s"tie-low n=$n")
      assert(nativeHigh(-1L) === (centers.length - 1 to 0 by -1).take(n), s"NaN tieHigh n=$n")
      assert(nativeLow(-1L) === centers.indices.take(n), s"NaN tie-low n=$n")
    }
    // n = 1, tieHigh is the nearest-center assignment
    val assigned = ranked(vecs, array(org.apache.spark.sql.GraftBridge.nearestCenter(
      col("v"), centers, tieHigh = true).getField("cell")))
    assert(ranked(vecs, org.apache.spark.sql.GraftBridge.nearestCells(
      col("v"), centers, 1, tieHigh = true)) === assigned)
  }

  test("GraftExtensions injects its registrations into a fresh extension set") {
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(exts) // must not throw; builder is arity-checked
    val (_, _, builder) = GraftExtensions.registrations
      .find(_._1.funcName == "graft_dot").get
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val cols = Seq(Literal.create(Array(1.0, 2.0), ArrayType(DoubleType)),
      Literal.create(Array(3.0, 4.0), ArrayType(DoubleType)))
    assert(builder(cols).isInstanceOf[graft.functions.DoubleDotProduct])
    assertThrows[IllegalArgumentException](builder(cols.take(1)))
  }
}
