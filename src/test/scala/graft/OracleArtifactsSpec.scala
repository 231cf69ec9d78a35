package graft

import org.scalatest.funsuite.AnyFunSuite

/** OracleArtifacts is part of the correctness gate: a wrong token or a
  * stale fallback would point a DuckDB replay oracle at another SF's
  * bytes — exactly the race it exists to close. Pin the path algebra. */
class OracleArtifactsSpec extends AnyFunSuite {

  test("lakeTag: readable basename + full-path hash, trailing-slash-proof") {
    assert(Paths.lakeTag("/lakes/sf0.01")
      .startsWith("sf0_01_"))
    // trailing slash must not change the token (memo keys carry the dir
    // as passed; the dump path must not fork on cosmetics)
    assert(Paths.lakeTag("/lakes/sf0.01/") ===
      Paths.lakeTag("/lakes/sf0.01"))
    // distinct SFs must never collide after sanitization
    assert(Paths.lakeTag("/x/sf0.1") !==
      Paths.lakeTag("/x/sf0.01"))
    // SAME basename under different parents must not collide either —
    // two lakes named sf0.01 would otherwise overwrite each other's
    // replay bytes (the cross-contamination the tag exists to prevent)
    assert(Paths.lakeTag("/lakes/sf0.01") !==
      Paths.lakeTag("/mnt/regen/sf0.01"))
  }

  test("record embeds the token and wins over the un-tokened fallback") {
    val name = s"spec_artifact_${System.nanoTime()}" // unique per run —
    // the registry is process-global and other suites share the JVM
    assert(OracleArtifacts.path(name) === Paths.sink(name),
      "unrecorded artifact must fall back to the legacy un-tokened path")
    val p = OracleArtifacts.record(name, "/lakes/sf0.01")
    assert(p === Paths.sink(s"${name}_${Paths.lakeTag("/lakes/sf0.01")}"))
    assert(OracleArtifacts.path(name) === p,
      "the oracle must read the path the dump recorded")
    // re-recording the same (name, sf) is idempotent — median-of-3 reruns
    assert(OracleArtifacts.record(name, "/lakes/sf0.01") === p)
    assert(OracleArtifacts.path(name) === p)
    // a later dump for another SF re-points the oracle at ITS bytes
    // (tests legitimately mix SFs in one JVM; the gate invariant below
    // is what protects a real Verify run)
    val p2 = OracleArtifacts.record(name, "/lakes/sf0.001")
    assert(OracleArtifacts.path(name) === p2)
    assert(p !== p2, "different SFs must dump to different dirs")
    // the cross-SF recording above must now trip the gate assert Verify
    // runs before emitting oracle_sql.json (r18 ADVICE — the
    // one-SF-per-Verify invariant made mechanical)
    val ex = intercept[IllegalArgumentException](
      OracleArtifacts.assertSingleSf())
    assert(ex.getMessage.contains(name))
  }
}
