package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The probe harness ([[ScaleProbe]]): name selection fails loudly on
  * an unknown name, and each retained entry runs by name at mult 2 on
  * the fixture tables and reports its claim in the one JSON line.
  * `qv_prune` (64 segment builds), `hnsw_spill` (20 job-per-hop serves
  * per path) and `hnsw_build` (the Spark layer build) take 40–65 s
  * each even this small, so they are left to the command line. */
class ProbeSpec extends SparkSpec {

  private def work(): String =
    java.nio.file.Files.createTempDirectory("probe_spec").toString

  /** `only` run at mult 2: the entry's `result`, after checking its
    * `sec` is a time, not the failure sentinel. */
  private def result(entry: String, only: Set[String]): JsonNode = {
    val (line, failed) = ScaleProbe.run(spark, sfDir, 2, work(), only)
    assert(failed.isEmpty, line)
    val node = new ObjectMapper().readTree(line)
    assert(node.get("probe").asText === "scale")
    assert(node.get("mult").asInt === 2)
    val e = node.get(entry)
    assert(e != null, s"$entry missing from $line")
    assert(e.get("sec").asDouble >= 0, line)
    e.get("result")
  }

  test("an unknown name fails before any corpus is built, naming the " +
      "known entries; a registry row name selects the sf1 sweep") {
    val dir = s"${work()}/w"
    val err = intercept[IllegalArgumentException](
      ScaleProbe.run(spark, sfDir, 2, dir, Set("pipeline_ful")))
    assert(err.getMessage.contains("pipeline_ful;"))
    assert(err.getMessage.contains("pipeline_full, pipeline_stages, sf1"))
    assert(!new java.io.File(dir).exists(), "a corpus was built")
    assert(ScaleProbe.select(Set("q_keyword_freq", "qv_prune")) ===
      ((Seq("sf1", "qv_prune"), Seq("q_keyword_freq"))))
    assert(ScaleProbe.select(Set.empty)._2 ===
      SparkEntry.queries.keys.toSeq.sorted)
  }

  test("json escapes quotes, backslashes and control characters") {
    import ScaleProbe.{json, Obj}
    val line = json(Obj("e" -> "a \"b\"\\\n", "x" -> Seq(1, 2.5, true)))
    val node = new ObjectMapper().readTree(line)
    assert(node.get("e").asText === "a \"b\"\\\n")
    assert(node.get("x").toString === "[1,2.5,true]")
  }

  test("pipeline_full: the replicated corpus curates to the base run") {
    val r = result("pipeline_full", Set("pipeline_full"))
    assert(r.get("collapses_to_base").asBoolean)
    assert(r.get("input").asLong > r.get("quality").asLong)
  }

  test("pipeline_stages: a cold and a warm per-stage profile") {
    val r = result("pipeline_stages", Set("pipeline_stages"))
    assert(r.size === 2)
    r.forEach(it => assert(it.get("s7_pack_s").asDouble >= 0))
  }

  test("sf1: a named registry row is timed cold and warm on the replica") {
    val r = result("sf1", Set("q_keyword_freq"))
    assert(r.get("failed").size === 0)
    assert(r.get("queries").size === 1)
    assert(r.get("queries").get("q_keyword_freq").get("median").asDouble >= 0)
  }

  test("searchann_mutated: six mutated serves derive the mutation once") {
    val r = result("searchann_mutated", Set("searchann_mutated"))
    assert(r.get("derivations").asLong === 1L)
  }

  test("hnsw_sharded: the delta arm reports every live delta id and no " +
      "tombstone") {
    val r = result("hnsw_sharded", Set("hnsw_sharded"))
    assert(r.get("tombstones_clean").asBoolean)
    assert(r.get("delta_hits").asLong === r.get("delta_wanted").asLong)
    assert(r.get("shard_recall10").asDouble > 0)
  }

  test("hnsw_graph: both arms at both sizes, the Spark arm in more jobs") {
    val r = result("hnsw_graph", Set("hnsw_graph"))
    assert(r.size === 4)
    val jobs = (0 until 4).map(i =>
      (r.get(i).get("n").asLong, r.get(i).get("arm").asText) ->
        r.get(i).get("jobs").asInt).toMap
    Seq(20L, 200L).foreach(n => assert(jobs(n -> "spark") > jobs(n -> "local")))
  }
}
