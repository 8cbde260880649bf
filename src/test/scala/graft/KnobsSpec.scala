package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph}
import graft.sources.{Knobs, Profiles}

/** The DEPLOY.md knob layer: defaults < profile < env, loud refusals,
  * and — per knob family — proof the knob actually reaches the
  * operator's default parameter (not just the resolver). */
class KnobsSpec extends GraftSpec {
  import spark.implicits._

  private def withKnobs[T](settings: Map[String, String],
      env: Map[String, String] = Map.empty)(body: => T): T = {
    Knobs.install(Profiles.Profile("test", settings))
    Knobs.envForTest = env
    try body
    finally { Knobs.clear(); Knobs.envForTest = null }
  }

  test("envKey is locale-pinned: Turkish dotted-i casing cannot break " +
      "GRAFT_* resolution") {
    // under a Turkish default locale, locale-sensitive toUpperCase maps
    // 'i' -> 'İ' (U+0130) — every knob key containing an 'i' would then
    // resolve to an env name nobody ever set (advice r15 #3)
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
    try {
      assert(Knobs.envKey("dedup.simhash_chunks") ==
        "GRAFT_DEDUP_SIMHASH_CHUNKS")
      assert(Knobs.envKey("knn.candidates") == "GRAFT_KNN_CANDIDATES")
    } finally java.util.Locale.setDefault(prev)
  }

  test("resolution precedence: compiled default < profile < env, " +
      "env key mapping, non-numeric values refused loudly") {
    assert(Knobs.envKey("dedup.max_bucket") == "GRAFT_DEDUP_MAX_BUCKET")
    // no profile, no env: default
    Knobs.envForTest = Map.empty
    try assert(Knobs.int("dedup.max_bucket", 1024) == 1024)
    finally Knobs.envForTest = null
    // profile beats default
    withKnobs(Map("dedup.max_bucket" -> "77")) {
      assert(Knobs.int("dedup.max_bucket", 1024) == 77)
    }
    // env beats profile
    withKnobs(Map("dedup.max_bucket" -> "77"),
      Map("GRAFT_DEDUP_MAX_BUCKET" -> "33")) {
      assert(Knobs.int("dedup.max_bucket", 1024) == 33)
    }
    // garbage is an error, not a silent default
    withKnobs(Map("knn.candidates" -> "many")) {
      val e = intercept[IllegalArgumentException] {
        Knobs.int("knn.candidates", 200)
      }
      assert(e.getMessage.contains("not a number"), e.getMessage)
    }
  }

  test("dedup.max_bucket reaches the LSH cap: a cap of 1 drops every " +
      "multi-occupant bucket and the audit surfaces it") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa X"),
      (3L, "totally different text about arctic shipping routes future"))
      .toDF("doc_id", "text")
    withKnobs(Map("dedup.max_bucket" -> "1")) {
      val (cands, dropped) = Dedup.minhashCandidatesAudited(docs)
      assert(cands.isEmpty, "cap=1 must drop every multi-occupant bucket")
      assert(!dropped.isEmpty, "the cut must be audited, never silent")
    }
    // without the knob the near-dup pair survives
    val (cands, _) = Dedup.minhashCandidatesAudited(docs)
    assert(cands.collect().map(r => (r.getLong(0), r.getLong(1)))
      .contains((1L, 2L)))
  }

  test("dedup.bands/rows_per_band override the derived geometry " +
      "TOGETHER or not at all; verified pairs are geometry-invariant") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa X"),
      (3L, "totally different text about arctic shipping routes future"))
      .toDF("doc_id", "text")
    val base = Dedup.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    withKnobs(Map("dedup.bands" -> "20", "dedup.rows_per_band" -> "5")) {
      assert(Dedup.knobGeometry.contains(Dedup.BandGeometry(20, 5)))
      val got = Dedup.minhashPairs(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == base,
        "exact verify must make the widened override answer-invariant")
    }
    withKnobs(Map("dedup.bands" -> "20")) {
      val e = intercept[IllegalArgumentException] { Dedup.knobGeometry }
      assert(e.getMessage.contains("TOGETHER"), e.getMessage)
    }
  }

  test("dedup.simhash_chunks forces a ladder rung; pigeonhole recall " +
      "holds so the pair set is unchanged") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "unrelated words entirely distinct from the other documents"))
      .toDF("doc_id", "text")
    val base = Dedup.polySimhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    withKnobs(Map("dedup.simhash_chunks" -> "10")) {
      val got = Dedup.polySimhashPairs(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == base, s"forced rung changed the pair set: $got vs $base")
    }
  }

  test("graph.sample_mod reaches the co-supply projection: knobbed " +
      "edges equal the explicit-modulus call") {
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
    val explicit = Graph.coSupplyEdges(li, sampleMod = 40L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    withKnobs(Map("graph.sample_mod" -> "40")) {
      val knobbed = Graph.coSupplyEdges(li).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(knobbed == explicit)
    }
    // and the default path (no knob) derives from the corpus count
    val derived = Graph.coSupplyEdges(li).collect().length
    val auto = Graph.coSupplyEdges(li,
      sampleMod = Graph.autoSampleMod(li.count())).collect().length
    assert(derived == auto)
  }

  test("dedup.geometry_occupancy moves the autoGeometry knee: " +
      "occupancy 1 widens a 1024-doc corpus to 10 slots, the default " +
      "keeps 4, and out-of-range values refuse loudly") {
    assert(Dedup.autoGeometry(1024L) ==
      Dedup.BandGeometry(Dedup.autoBands(4), 4))
    withKnobs(Map("dedup.geometry_occupancy" -> "1")) {
      val g = Dedup.autoGeometry(1024L)
      assert(g.rowsPerBand == 10 && g.bands == Dedup.autoBands(10),
        g.toString)
    }
    withKnobs(Map("dedup.geometry_occupancy" -> "0")) {
      val e = intercept[IllegalArgumentException] {
        Dedup.autoGeometry(10L)
      }
      assert(e.getMessage.contains("out of range"), e.getMessage)
    }
  }

  test("emb.lsh_occupancy moves the hyperplane-bits knee and " +
      "knn.audit_queries bounds the recall-audit query count") {
    import graft.operators.Similarity
    assert(Similarity.autoBitsPerBand(1024L) == 5)
    withKnobs(Map("emb.lsh_occupancy" -> "1")) {
      assert(Similarity.autoBitsPerBand(1024L) == 10)
    }
    // 500 vectors: the default 128-query bound floors at every=50 →
    // 10 sampled queries; a bound of 5 lifts every to 100 → 5 queries
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
    val dflt = Similarity.recallAudit(vecs)
      .select("vec_id").distinct().count()
    assert(dflt == 10L, s"default audit queries: $dflt")
    withKnobs(Map("knn.audit_queries" -> "5")) {
      val got = Similarity.recallAudit(vecs)
        .select("vec_id").distinct().count()
      assert(got == 5L, s"bounded audit queries: $got")
    }
  }

  test("dedup.bloom_items/bloom_bits reach the bloom pre-screen: the " +
      "knobbed face equals the explicit-sizing call, and resizing " +
      "never moves a verdict (no false negatives)") {
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val explicit = Dedup.bloomIncremental(history, batch,
      expectedItems = 1L << 10, numBits = 1L << 13)
      .collect().map(_.toString).sorted.toSeq
    withKnobs(Map("dedup.bloom_items" -> (1L << 10).toString,
        "dedup.bloom_bits" -> (1L << 13).toString)) {
      val knobbed = Dedup.bloomIncremental(history, batch)
        .collect().map(_.toString).sorted.toSeq
      assert(knobbed == explicit)
    }
    val dflt = Dedup.bloomIncremental(history, batch)
      .collect().map(_.toString).sorted.toSeq
    assert(dflt == explicit,
      "a pre-screen resize changed verdicts — false negatives exist")
  }

  test("knn.candidates reaches the ADC budget: the registered face " +
      "under the knob equals the explicit-budget call") {
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
    val sim = graft.operators.Similarity
    val explicit = sim.annProbe(sim.annBuild(vecs, sim.PqSpec), vecs,
      col("vec_id") < 10, candidates = 64).collect()
      .map(_.toString).toSet
    withKnobs(Map("knn.candidates" -> "64")) {
      val knobbed = SparkEntry.queries("knn_pq_adc")(spark, sf)
        .collect().map(_.toString).toSet
      assert(knobbed == explicit)
    }
  }
}
