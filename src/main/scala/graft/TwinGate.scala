package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Engine-side brute-force twin gate (dev tool) for the queries whose
  * naive DuckDB oracle is quadratic in the replicated duplicate-group
  * (or connected-component) size and cannot finish at the ×10 scale
  * (`tools/make_bigsf.py`): `d4_ngram_jaccard`, `d6_semantic_dedup`,
  * `d9_contamination`, and (r13) `g5_connected_components`. The r10
  * round recorded the dedup rows as oracle-timeouts; this gate decides
  * them.
  *
  * Each twin is an INDEPENDENT elementary implementation of the same
  * semantics (reference pair ordering: `util.py:206-233`):
  *   - shingling by a plain Scala UDF (no codegen'd sequence/element_at
  *     pipeline, no posting dedup tricks);
  *   - the FULL posting-list equi-join — every co-occurrence of a
  *     shingle in two docs is one row (lossless for J ≥ θ > 0, and a
  *     strict superset of the engine's prefix-filtered candidates);
  *   - Jaccard by COUNTING: |I| = the per-pair row count of that join,
  *     |U| = |A| + |B| − |I| from the per-doc set sizes — the join
  *     ships 16-byte id pairs, never the shingle arrays (an
  *     array-shipping verify at ×10 is ~10⁸ pairs × ~3 KB of strings:
  *     it spilled a first attempt to death), rounded like the engine
  *     (round half-up, 6 dp);
  *   - d6's components by DRIVER-SIDE union-find over the verified
  *     pair list (no large-star/small-star iteration).
  *
  * The twins are compared row-for-row (full-outer join on the result
  * keys, 1e-9 relative tolerance on doubles) against the engine
  * outputs a prior `graft.Verify` run wrote, so the twin gates exactly
  * the artifact the sidecar describes. Results land in a JSON file that
  * `tools/bigsf_gate.py` merges into CORRECTNESS_SFBIG.
  *
  * Usage: runMain graft.TwinGate [sfDir] [verifyOut] [outJson]
  */
object TwinGate {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/graft_sfbig"
    val verifyOut = if (args.length > 1) args(1) else "/tmp/verify_big"
    val outJson = if (args.length > 2) args(2) else "/tmp/twin_gate.json"
    val spark = Tables.session()
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // ---- elementary shingle sets (k = 3, single-space corpus contract)
    val shingleSet = udf((text: String) => {
      // limit -1: Java's default split DROPS trailing empty tokens while
      // Spark's split(col, " ") keeps them — a doc with trailing spaces
      // would otherwise shingle differently between twin and engine and
      // produce spurious gate mismatches outside the single-space
      // corpus contract
      val t = text.split(" ", -1)
      if (t.length < 3) Array.empty[String]
      else {
        val out = new scala.collection.mutable.LinkedHashSet[String]
        var i = 0
        while (i <= t.length - 3) {
          out += (t(i) + " " + t(i + 1) + " " + t(i + 2)); i += 1
        }
        out.toArray
      }
    })
    val sh = docs.select(col("doc_id"), shingleSet(col("text")).as("sh"))
      .persist()
    sh.count()
    val posts = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("sz"))

    // |I| per pair = row count of the full posting equi-join; |U| from
    // the per-doc set sizes. jaccard = |I| / (|A| + |B| - |I|).
    def jaccardPairs(inter: DataFrame): DataFrame = inter
      .join(sizes.select(col("doc_id").as("doc1"), col("sz").as("sz1")),
        "doc1")
      .join(sizes.select(col("doc_id").as("doc2"), col("sz").as("sz2")),
        "doc2")
      .select(col("doc1"), col("doc2"),
        round(col("i") / (col("sz1") + col("sz2") - col("i")), 6)
          .as("jaccard"))
      .where(col("jaccard") >= 0.5)

    // ---- d4 twin: all pairs sharing a shingle, counted exactly ----
    val d4Twin = jaccardPairs(posts.alias("a")
      .join(posts.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("i")))
      .persist()
    d4Twin.count()

    // ---- d9 twin: cross-corpus (even = train, odd = test) best match
    val postsTr = posts.where(col("doc_id") % 2 === 0)
    val postsTe = posts.where(col("doc_id") % 2 === 1)
    val xscored = jaccardPairs(postsTr.alias("a")
      .join(postsTe.alias("b"), col("a.s") === col("b.s"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("i")))
    // best train match per test doc; ties on the max take the smallest
    // train id — max(struct(jaccard, -doc1)) encodes both in one agg
    val d9Twin = xscored
      .groupBy(col("doc2").as("doc_id"))
      .agg(max(struct(col("jaccard"), (-col("doc1")).as("neg"))).as("m"))
      .select(col("doc_id"), (-col("m.neg")).as("best_match"),
        col("m.jaccard").as("jaccard"))

    // ---- driver-side union-find (shared by the d6 and g5 twins):
    // min-id labeling — union attaches larger roots under smaller ones,
    // so find() already yields the component's min id
    def unionFindLabels(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap { case (a, b) => Seq(a, b) }.distinct.toSeq
        .map(v => (v, find(v)))
    }

    // ---- d6 twin: union-find over the d4 twin's pairs (driver-side)
    val edges = d4Twin.select(col("doc1"), col("doc2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val d6Twin = unionFindLabels(edges)
      .toDF("doc_id", "component")
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).as("keep"))

    // ---- g5 twin: the 2-line-order parts graph, components by
    // union-find (no large-star/small-star iteration — the twin decides
    // the engine's alternating path at the ×4 replicated graph scale,
    // where the naive recursive-closure SQL is quadratic in the giant
    // component's size)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val duo = li.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n")).where(col("n") === 2)
      .select(col("l_orderkey"))
    val lj = li.join(duo, "l_orderkey")
    val g5Edges = lj.alias("a").join(lj.alias("b"), Seq("l_orderkey"))
      .where(col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").cast("long").as("doc1"),
        col("b.l_partkey").cast("long").as("doc2"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val g5Twin = unionFindLabels(g5Edges).toDF("doc_id", "component")

    // ---- compare each twin against the Verify-written engine output
    def engine(name: String): DataFrame =
      spark.read.parquet(s"$verifyOut/$name")

    def compare(name: String, twin: DataFrame,
        keys: Seq[String]): (Boolean, Long, String) = {
      val e = engine(name)
      val ecols = e.columns.sorted.toSeq
      val tcols = twin.columns.sorted.toSeq
      if (ecols != tcols)
        return (false, e.count(), s"cols $ecols vs $tcols")
      val en = e.count()
      val tn = twin.count()
      if (en != tn) return (false, en, s"rows engine=$en twin=$tn")
      val vcols = e.columns.filterNot(keys.contains).toSeq
      val doubles = e.schema.fields
        .filter(_.dataType == DoubleType).map(_.name).toSet
      val j = e.alias("e").join(twin.alias("t"), keys, "full_outer")
      val good = vcols.map { c =>
        val ev = col(s"e.$c"); val tv = col(s"t.$c")
        if (doubles(c))
          abs(ev - tv) <= lit(1e-9) * greatest(lit(1.0), abs(ev), abs(tv))
        else ev <=> tv
      }.reduceOption(_ && _).getOrElse(lit(true))
      val bad = j.where(!coalesce(good, lit(false))).count()
      if (bad == 0) (true, en, "")
      else (false, en, s"$bad mismatched rows of $en")
    }

    val results = Seq(
      ("d4_ngram_jaccard",
        compare("d4_ngram_jaccard", d4Twin, Seq("doc1", "doc2"))),
      ("d9_contamination",
        compare("d9_contamination", d9Twin, Seq("doc_id"))),
      ("d6_semantic_dedup",
        compare("d6_semantic_dedup", d6Twin, Seq("doc_id"))),
      ("g5_connected_components",
        compare("g5_connected_components", g5Twin, Seq("doc_id"))))

    val json = results.map { case (name, (ok, rows, detail)) =>
      val det = if (detail.isEmpty) "" else s""","detail":"$detail""""
      s""" "$name": {"match":$ok,"rows":$rows,"gate":"engine-brute-twin"$det}"""
    }.mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    results.foreach { case (name, (ok, rows, detail)) =>
      println(s"${if (ok) "OK" else "FAIL"} $name rows=$rows $detail")
    }
    println(s"wrote $outJson")
    spark.stop()
  }
}
