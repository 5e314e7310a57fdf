package graft.bench

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeTable

/** End to end: the lake_maintenance model check passes on the engine's
  * real output and fails once the lake is changed behind the model's back.
  */
class TamperSpec extends AnyFunSuite {

  test("a lake changed outside the modelled batches fails the check") {
    val work = Files.createTempDirectory("lakebench-tamper")
    val spark = graft.core.GraftSession.local(2)
    try {
      val cfg = Config("lake_maintenance", 3L, 1, trace = false, smoke = true, work, work, 1)
      val b = new Bench(spark, cfg)
      val st = LakeMaintenance.setup(b, work.resolve("lm"), LakeMaintenance.Smoke)
      LakeMaintenance.cycle(b, st, 0) // checks the untouched lake: passes
      val victim = st.encounters.keys.head
      st.enc.update(Map("COST" -> (col("COST") + lit(0.25))), col("Enc_Id") === victim)
      assertThrows[CheckFailed](LakeMaintenance.verify(b, st))
      // the views see the change too once refreshed; the encounters table
      // alone already fails, so the check is not only about row counts
      st.enc.update(Map("COST" -> (col("COST") - lit(0.25))), col("Enc_Id") === victim)
      LakeMaintenance.verify(b, st)
      LakeTable(spark, st.dimPath).update(
        Map("SSN" -> lit(st.patients.values.head.get("SSN"))),
        col("PATIENT") === st.patients.keys.head)
      val e = intercept[CheckFailed](LakeMaintenance.verify(b, st))
      assert(e.getMessage.contains("patient_dim"))
    } finally {
      spark.stop()
      Workloads.deleteDir(work)
    }
  }

  test("a note or IVF posting removed outside the batches fails the note_search check") {
    val work = Files.createTempDirectory("lakebench-tamper-notes")
    val spark = graft.core.GraftSession.local(2)
    try {
      val cfg = Config("note_search", 3L, 1, trace = false, smoke = true, work, work, 1)
      val b = new Bench(spark, cfg)
      val size = NoteSearch.Smoke
      val st = NoteSearch.setup(b, work.resolve("ns"), size)
      NoteSearch.maintain(b, st,
        NoteSearch.planBatch(st.corpus, b.rng("t"), size, st.docs, st.originals, st.nextId))
      NoteSearch.verifyLake(b, st) // the batch landed as modelled: passes
      val victim = st.docs.keys.head
      LakeTable(spark, s"${st.ivfDir}/postings").delete(col("vec_id") === victim)
      val e = intercept[CheckFailed](NoteSearch.verifyLake(b, st))
      assert(e.getMessage.contains("IVF postings"))
      st.docs.remove(victim) // the model forgets it too: now only the notes table differs
      val e2 = intercept[CheckFailed](NoteSearch.verifyLake(b, st))
      assert(e2.getMessage.contains("notes table"))
      // an op that throws is counted as failed and ends the run
      intercept[OpFailed](b.op("boom", "text", write = false)(throw new IllegalStateException("boom")))
      assert(b.failed == 1L)
    } finally {
      spark.stop()
      Workloads.deleteDir(work)
    }
  }
}
