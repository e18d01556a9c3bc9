package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench line's apples-to-apples drift field: totals over exactly
  * the 68 queries the round-1 record measured. No SparkSession needed.
  */
class BenchRecordSpec extends AnyFunSuite {

  test("r01Common parses the escaped round-1 record and emits the drift field") {
    // a full-board result set must produce the comparison over the
    // r01-era names that survived the round-7 registry fold (11 were
    // merged into multi-assert entries, so the intersection is ~56)
    val results = SparkEntry.queries.keys.toSeq.map(_ -> 0.1)
    val s = Bench.r01Common(results)
    assert(s.startsWith(""""r01_common":{"n":"""), s)
    val n = """"n":(\d+)""".r.findFirstMatchIn(s).get.group(1).toInt
    assert(n >= 50 && n <= 68, s)
    // the r01 total over the common names stays parsed from the
    // committed record (a nonzero seconds figure)
    assert(""""r01_sec":\d+\.""".r.findFirstIn(s).nonEmpty, s)
    // n * 0.1 with float accumulation
    assert(s.contains("\"now_sec\":" + "%.3f".format(n * 0.1)), s)
  }

  test("r01Common is empty for subset runs (not comparable)") {
    assert(Bench.r01Common(Seq("rel_union" -> 0.1)) === "")
  }

  test("merge mode floors per-query values against the existing same-SF " +
      "record, counts runs, and keeps the quietest noise index") {
    val path = java.nio.file.Files
      .createTempFile("graft-benchmerge", ".json").toString
    // run 1: fresh record (no merge)
    Bench.writeFull(Seq("qa" -> 2.0, "qb" -> 1.0), "/x/sf0.1",
      pathOverride = Some(path), noiseIndex = Some((5, 2.0, 3.0)))
    // run 2: merge — qa improves, qb degrades (degradation must NOT
    // replace the committed minimum), quieter noise index wins
    Bench.writeFull(Seq("qa" -> 1.5, "qb" -> 4.0), "/x/sf0.1",
      pathOverride = Some(path), noiseIndex = Some((5, 2.0, 2.4)),
      merge = true)
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(txt.contains("\"qa\": 1.500") && txt.contains("\"qb\": 1.000"), txt)
    assert(txt.contains("\"_runs\": 2"), txt)
    assert(txt.contains("\"now_sec\": 2.400") &&
      txt.contains("\"ratio\": 1.200"), txt)
    assert(txt.contains("\"_total\": 2.500"), txt)
    // a DIFFERENT-SF record never merges (the sf0.01 smoke must not
    // floor the official sf0.1 board)
    Bench.writeFull(Seq("qa" -> 0.1, "qb" -> 0.1), "/x/sf0.01",
      pathOverride = Some(path), merge = true)
    val txt2 = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(txt2.contains("\"qa\": 0.100") && txt2.contains("\"_runs\": 1"),
      txt2)
  }

  test("the control set is pinned to r01-era names present in both the " +
      "registry and the committed round-1 record") {
    val r01 = Bench.readR01()
    assert(r01.nonEmpty, "BENCH_r01.json did not parse")
    Bench.controlSet.foreach { n =>
      assert(SparkEntry.queries.contains(n), s"control $n not in registry")
      assert(r01.contains(n), s"control $n not in the r01 record")
    }
    // the noise index lands in the emitted line
    val line = Bench.renderLine(Seq("qa" -> 1.0), "/x/sf0.1",
      noiseIndex = Some((5, 2.0, 3.0)))
    assert(line.contains("\"noise_index\":1.500"), line)
  }

  test("writeFull records per-arm sub-timings for folded entries") {
    val path = java.nio.file.Files
      .createTempFile("graft-benchfull", ".json").toString
    Bench.writeFull(
      results = Seq("qa" -> 1.0, "qb" -> 2.0),
      sfDir = "/root/testdata/sf0.1",
      arms = Seq("qb" ->
        Seq("arm1" -> 0.5, "arm2" -> 0.75, "arm3" -> 0.25)),
      pathOverride = Some(path))
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    assert(txt.contains(
      """"_arms": {"qb": {"arm1": 0.500, "arm2": 0.750, "arm3": 0.250}}"""),
      txt)
    assert(txt.contains("\"qa\": 1.000") && txt.contains("\"_total\": 3.000"))
    // the ref parser for the outlier defense still reads the per-query
    // map and is not confused by the arm block (underscore keys and
    // nested arm tags never shadow a query's committed minimum)
    val ref = {
      val entry = """"([A-Za-z0-9_]+)"\s*:\s*([0-9]+\.[0-9]+)""".r
      entry.findAllMatchIn(txt).filterNot(_.group(1).startsWith("_"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    assert(ref("qa") === 1.0 && ref("qb") === 2.0)
  }

  test("a merge run without arm timings keeps the prior _arms block") {
    val path = java.nio.file.Files
      .createTempFile("graft-bencharms", ".json").toString
    Bench.writeFull(Seq("qa" -> 1.0), "/x/sf0.1",
      arms = Seq("qa" -> Seq("a1" -> 0.5, "a2" -> 0.25)),
      pathOverride = Some(path))
    Bench.writeFull(Seq("qa" -> 0.9), "/x/sf0.1",
      pathOverride = Some(path), merge = true)
    val rec = Bench.parseRecord(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path))).get
    assert(rec.queries === Map("qa" -> 0.9) && rec.runs === 2, rec)
    assert(rec.armsJson.exists(_.contains("a1")), rec)
  }

  test("a run at a different core count writes BESIDE the committed " +
      "record, never over it (round-12 verdict: the driver's local[8] " +
      "scaling run clobbered the 32-core reference)") {
    val cpus = GraftSession.harnessCpus
    val path = java.nio.file.Files
      .createTempFile("graft-benchcpus", ".json").toString
    // a committed record measured at a DIFFERENT core count
    val committed = s"""{
      |  "qa": 1.000,
      |  "_total": 1.000,
      |  "_runs": 4,
      |  "_cpus": ${cpus + 1},
      |  "_sf": "/x/sf0.1"
      |}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), committed)
    Bench.writeFull(Seq("qa" -> 0.5), "/x/sf0.1", pathOverride = Some(path))
    // the committed record is byte-identical...
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path)) === committed)
    // ...and the mismatched run landed beside it, cpu-tagged
    val side = path.stripSuffix(".json") + s"_c$cpus.json"
    val rec = Bench.parseRecord(java.nio.file.Files.readString(
      java.nio.file.Paths.get(side))).get
    assert(rec.queries === Map("qa" -> 0.5) && rec.cpus === Some(cpus), rec)
    // a record WITHOUT the tag reads as 32-core (every committed record
    // from rounds ≤ 12 was a 32-core run)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"qa": 1.000, "_runs": 4, "_sf": "/x/sf0.1"}""")
    Bench.writeFull(Seq("qa" -> 0.4), "/x/sf0.1", pathOverride = Some(path))
    val after = Bench.parseRecord(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path))).get
    // mismatch (or, at 32 cores, an untagged record's epoch 1): untouched
    assert(after.queries === Map("qa" -> 1.0) && after.cpus === None)
  }

  test("a run never merges into a record of another noise epoch: it " +
      "writes beside it, stamped with its own epoch") {
    val cpus = GraftSession.harnessCpus
    val path = java.nio.file.Files
      .createTempFile("graft-benchepoch", ".json").toString
    // a same-core, same-SF record without the stamp (epoch 1)
    val committed = s"""{
      |  "qa": 1.000,
      |  "_runs": 4,
      |  "_cpus": $cpus,
      |  "_sf": "/x/sf0.1"
      |}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), committed)
    assert(Bench.parseRecord(committed).get.epoch === 1)
    Bench.writeFull(Seq("qa" -> 2.0), "/x/sf0.1", pathOverride = Some(path),
      merge = true)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path)) === committed)
    val side = path.stripSuffix(".json") + s"_e${Bench.NoiseEpoch}.json"
    val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(side))
    assert(txt.contains("\"_noise_epoch\": 2"), txt)
    val rec = Bench.parseRecord(txt).get
    // not floored by the epoch-1 record's 1.000, and a first run
    assert(rec.queries === Map("qa" -> 2.0) && rec.runs === 1 &&
      rec.epoch === 2 && rec.cpus === Some(cpus), rec)
  }

  test("writeFull stamps _cpus and a same-cpus merge still floors") {
    val cpus = GraftSession.harnessCpus
    val path = java.nio.file.Files
      .createTempFile("graft-benchcpus2", ".json").toString
    Bench.writeFull(Seq("qa" -> 2.0), "/x/sf0.1", pathOverride = Some(path))
    Bench.writeFull(Seq("qa" -> 1.5), "/x/sf0.1", pathOverride = Some(path),
      merge = true)
    val rec = Bench.parseRecord(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path))).get
    assert(rec.queries === Map("qa" -> 1.5) && rec.runs === 2 &&
      rec.cpus === Some(cpus), rec)
  }

  test("parseRecord round-trips every field the merge reads") {
    val path = java.nio.file.Files
      .createTempFile("graft-benchparse", ".json").toString
    Bench.writeFull(
      results = Seq("qa" -> 1.0, "qb" -> 2.0),
      sfDir = "/x/sf0.1",
      reruns = Seq(("qb", 9.0, 2.0)),
      arms = Seq("qb" -> Seq("arm1" -> 0.5, "arm2" -> 0.75)),
      pathOverride = Some(path),
      noiseIndex = Some((5, 2.0, 3.0)))
    val rec = Bench.parseRecord(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path))).get
    assert(rec.queries === Map("qa" -> 1.0, "qb" -> 2.0), rec)
    assert(rec.runs === 1 && rec.sf === Some("/x/sf0.1"), rec)
    assert(rec.noise === Some((5, 2.0, 3.0)), rec)
  }

  test("parseRecord never lets a nested arm tag shadow a query value") {
    // an _arms sub-timing whose tag COLLIDES with a query name (the
    // old regex scan's hazard: it would have floored qa at 0.010)
    val txt = """{
      |  "qa": 5.000,
      |  "_total": 5.000,
      |  "_runs": 3,
      |  "_arms": {"qfold": {"qa": 0.010, "other": 0.020}},
      |  "_reruns": {"qa": {"measured": 0.001, "solo": 0.002}},
      |  "_sf": "/x/sf0.1"
      |}""".stripMargin
    val rec = Bench.parseRecord(txt).get
    assert(rec.queries === Map("qa" -> 5.0), rec)
    assert(rec.runs === 3, rec)
  }

  test("parseRecord fails loudly (None / defaults) on corruption") {
    // truncated record → None (no silently partial map)
    assert(Bench.parseRecord("""{"qa": 1.0, "_runs": 2""") === None)
    // non-object root → None
    assert(Bench.parseRecord("""[1, 2]""") === None)
    // corrupt _noise_index (missing now_sec) → record parses, noise
    // drops to None instead of a garbage tuple
    val rec = Bench.parseRecord(
      """{"qa": 1.0, "_noise_index": {"n": 5, "r01_sec": 2.0},
        | "_sf": "/x/sf0.1"}""".stripMargin).get
    assert(rec.noise === None && rec.queries === Map("qa" -> 1.0), rec)
    // corrupt _runs (string) → defaults to 1, queries intact
    val rec2 = Bench.parseRecord("""{"qa": 1.0, "_runs": "x"}""").get
    assert(rec2.runs === 1, rec2)
  }
}
