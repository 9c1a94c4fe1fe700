package graft

import java.nio.file.Files

/** The pieces the engine's CLI mains are built from: the session
  * factory's core count, Verify's per-query dump and Profile's job
  * attribution. */
class MainsSpec extends SparkSpec {

  test("session cores come from SPARK_GRAFT_CPUS, else every available processor") {
    assert(Engine.coresFrom(Some("3")) == 3)
    assert(Engine.coresFrom(Some(" 12 ")) == 12)
    assert(Engine.coresFrom(None) == Runtime.getRuntime.availableProcessors)
  }

  test("Verify.dump deletes a stale output before a query that fails while constructed") {
    val out = Files.createTempDirectory("verify-dump").toString
    val stale = java.nio.file.Paths.get(out, "q", "part-0.parquet")
    Files.createDirectories(stale.getParent)
    Files.writeString(stale, "previous run")
    val ok = Verify.dump(spark, sf, out, "q", (_, _) => sys.error("construction failed"))
    assert(!ok)
    assert(!Files.exists(stale.getParent), "a failed query must leave no output to compare")
  }

  test("Verify.dump replaces a previous output with the query's result") {
    val out = Files.createTempDirectory("verify-dump").toString
    val fn = SparkEntry.queries("b05_select_rename_cast")
    assert(Verify.dump(spark, sf, out, "b05", fn))
    assert(Verify.dump(spark, sf, out, "b05", fn), "a second dump over the first succeeds")
    assert(spark.read.parquet(s"$out/b05").count() == fn(spark, sf).count())
  }

  test("Profile attrib splits b12_q1_agg's wall time and lists every job it ran") {
    val a = tools.Profile.attrib(spark, sf, "b12_q1_agg")
    assert(a.query == "b12_q1_agg")
    assert(a.jobs.nonEmpty, "the noop write runs at least one job")
    a.jobs.foreach { j =>
      assert(j.callSite.nonEmpty, s"job ${j.id} has no call site")
      assert(j.stages >= 1 && j.tasks >= 1, s"job ${j.id}: ${j.stages} stages, ${j.tasks} tasks")
      assert(Set("construct", "exec")(j.phase), s"job ${j.id} phase ${j.phase}")
      assert(j.seconds >= 0 && j.executorRunS >= 0)
      assert(j.shuffleReadBytes >= 0 && j.shuffleWriteBytes >= 0)
    }
    assert(a.jobs.exists(_.phase == "exec"))
    assert(a.constructS >= 0 && a.execS > 0)
    assert(math.abs(a.constructS + a.execS - a.wallS) <= 0.05 + 0.05 * a.wallS,
      s"construct ${a.constructS} + exec ${a.execS} vs wall ${a.wallS}")
  }
}
