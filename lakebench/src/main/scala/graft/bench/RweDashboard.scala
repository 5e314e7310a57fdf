package graft.bench

import java.nio.file.Path
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.analytics.Cohort
import graft.features.Featurizer
import graft.ingest.EtlJob
import graft.ml.{ModelRegistry, Scorer, Trainer}
import graft.sources.LakeTable

/** Parameterized read queries of the reference's 01/02/03 notebooks over
  * a clustered lake built once in set-up, with no writes in the loop:
  * cohort analytics, cohort featurization, model scoring, stats-pruned
  * date-range reads, SQL over catalog names and the table history. Each
  * round draws its date window and k from the seed. Every query is
  * collected, as the dashboard consumes its rows, and every round's results
  * are then recomputed from the generated rows.
  */
object RweDashboard {

  final case class Size(patients: Int, encounters: Int)
  val Full: Size = Size(1000, 10000)
  val Smoke: Size = Size(300, 3000)

  val Comorbidities: Seq[String] = Seq("Hypertension", "Diabetes mellitus", "Asthma")
  val WindowDays = 90
  /** Zipf rank of the cohort condition ("Chronic sinusitis"). */
  val CohortRank = 3
  val ModelRef: Scorer.ModelRef = Scorer.ModelRef("comorbidity", "Production")

  final class State(val root: Path, val ehr: Gen.Ehr) {
    val lake: String = root.resolve("lake").toString
    val pePath = s"$lake/patient_encounters"
    val registry = new ModelRegistry(root.resolve("registry").toString)
    var pe: LakeTable = _
    var fz: Featurizer.Featurized = _
    var model: org.apache.spark.ml.classification.DecisionTreeClassificationModel = _
    val patients: Map[String, Gen.Patient] = ehr.patients.map(p => p.id -> p).toMap
  }

  def run(b: Bench): Unit = {
    val size = if (b.cfg.smoke) Smoke else Full
    b.setUpAndRun[State](i => setup(b, b.cfg.work.resolve(s"rwe_dashboard-$i"), size),
      _.root, st => Seq(st.pePath))(round(b, _, 0))((st, r) => round(b, st, r))
  }


  private def features(pe: DataFrame, pattern: String): DataFrame = {
    val cohort = pe.where(lower(col("REASONDESCRIPTION")).contains(pattern)).select(col("PATIENT"))
    Featurizer.encounterFeatures(pe.join(cohort, Seq("PATIENT"), "left_semi"), Comorbidities, WindowDays)
  }

  def setup(b: Bench, root: Path, size: Size): State = {
    val spark = b.spark
    val ehr = Gen.ehr(b.cfg.seed, size.patients, size.encounters)
    val st = new State(root, ehr)
    val landing = root.resolve("landing")
    b.inputBytes += Gen.landEhr(landing, ehr)
    b.span("ingest.etl_run") {
      b.setupPart("ingest.etl")(EtlJob.run(spark, landing.toString, st.lake, "rwe"))
    }
    b.note("ingest.etl_rows",
      (2 * ehr.encounters.size + ehr.patients.size + Gen.Orgs.size + 30).toDouble)
    st.pe = LakeTable(spark, st.pePath)
    st.pe.collectStats(Seq("START_TIME", "REASONDESCRIPTION"))
    // the model is trained once, with fixed parameters and seed
    st.fz = Featurizer.assemble(
      Featurizer.encounterFeatures(st.pe.read, Comorbidities, WindowDays),
      Seq("GENDER"), Seq("age", "recent_encounters", "recent_1", "recent_2"))
    st.model = Trainer.fitOne(st.fz.data, Trainer.Params(5, 32, "gini"), seed = 7L)
    st.registry.promote(st.model, ModelRef.name, ModelRef.stage)
    st
  }

  def round(b: Bench, st: State, r: Int): Unit = {
    val spark = b.spark
    val rnd = b.rng(s"round-$r")
    // the cohort condition is fixed: with one round per run, a seeded pick
    // between conditions of different frequency split the runs into a
    // fast and a slow group (cohort size drives the cost)
    val k = 5 + rnd.nextInt(6)
    val cond = Gen.Conditions(CohortRank)
    val pattern = cond.toLowerCase
    val from = Gen.FirstDay.plusDays(rnd.nextInt(Gen.DaySpan - 365).toLong)
    val until = from.plusDays(365L)
    val pe = st.pe.read
    val es = st.ehr.encounters
    val withReason = es.filter(_.reason.isDefined)
    def hasPattern(e: Gen.Encounter) = e.reason.exists(_.toLowerCase.contains(pattern))
    val cases = es.filter(hasPattern).map(_.patient).toSet

    val top = b.op("top_categories", "analytics", write = false)(
      b.span("analytics.top_categories")(Cohort.topCategories(pe, "REASONDESCRIPTION", k).collect()))
    val wantTop = withReason.groupBy(_.reason.get).map { case (c, xs) => c -> xs.size.toLong }
      .toSeq.sortBy { case (c, n) => (-n, c) }.take(k)
    val gotTop = top.map(r => r.getString(0) -> r.getLong(1)).toSeq
    b.check("topCategories")(gotTop == wantTop, s"$gotTop vs $wantTop")

    val co = b.op("co_occurring", "analytics", write = false)(b.span("analytics.co_occurring")(
      Cohort.coOccurring(pe, "PATIENT", "REASONDESCRIPTION", pattern, k).collect()))
    val wantCo = withReason.filter(e => cases(e.patient) && !hasPattern(e))
      .map(e => (e.patient, e.reason.get)).distinct.groupBy(_._2)
      .map { case (c, xs) => c -> xs.size.toLong }.toSeq.sortBy { case (c, n) => (-n, c) }.take(k)
    val gotCo = co.map(r => r.getString(0) -> r.getLong(1)).toSeq
    b.check("coOccurring")(gotCo == wantCo, s"$gotCo vs $wantCo")

    val chi = b.op("chi_square", "analytics", write = false)(b.span("analytics.chi_square")(
      Cohort.chiSquare(pe.where(col("REASONDESCRIPTION").isNotNull), col("GENDER"),
        lower(col("REASONDESCRIPTION")).contains(pattern).cast("int")).collect()))
    val (wantChi, dof) = Checks.chiSquare(withReason.map(e =>
      st.patients(e.patient).get("GENDER") -> (if (hasPattern(e)) "1" else "0")))
    val row = chi.head
    b.check("chiSquare")(math.abs(row.getDouble(0) - wantChi) <= 1e-3 * math.max(1.0, wantChi) &&
      row.getAs[Number]("dof").longValue == dof, s"$row vs ($wantChi, $dof)")

    val cc = b.op("case_control", "analytics", write = false)(b.span("analytics.case_control")(
      Cohort.caseControl(pe, "PATIENT", "REASONDESCRIPTION", pattern).collect()))
    val others = es.map(_.patient).toSet -- cases
    val (c1, c0) = cc.map(r => r.getString(0) -> r.getInt(1)).partition(_._2 == 1)
    b.check("caseControl cases")(c1.map(_._1).toSet == cases && c1.length == cases.size)
    b.check("caseControl controls")(c0.length == math.min(cases.size, others.size) &&
      c0.map(_._1).toSet.size == c0.length && c0.forall(x => others(x._1)))

    val feats = b.op("encounter_features", "features", write = false)(
      b.span("features.encounter_features")(features(pe, pattern).collect()))
    checkFeatures(b, st, feats, hasPattern)

    val scored = b.op("score", "ml", write = false)(b.span("ml.score_with_metadata")(
      Scorer.scoreWithMetadata(st.registry, ModelRef,
        Featurizer.applyIndexers(features(pe, pattern), st.fz)).collect()))
    val cohortRows = es.count(e => e.reason.isDefined && cases(e.patient))
    b.check("score row count")(scored.length == cohortRows, s"${scored.length} vs $cohortRows")
    b.check("score predictions")(scored.forall(r =>
      Checks.treePredict(st.model.rootNode, r.getAs[org.apache.spark.ml.linalg.Vector]("features")) ==
        r.getAs[Double]("prediction") && r.getAs[Long]("model_version") == 1L))

    val t0 = java.sql.Timestamp.valueOf(from.atStartOfDay)
    val t1 = java.sql.Timestamp.valueOf(until.atStartOfDay)
    val whereCond = col("REASONDESCRIPTION") === cond &&
      col("START_TIME") >= lit(t0) && col("START_TIME") < lit(t1)
    def inWindow(e: Gen.Encounter) = !e.startDate.isBefore(from) && e.startDate.isBefore(until)
    val rw = b.op("read_where", "sources", write = false)(
      b.span("sources.read_where")(st.pe.readWhere(whereCond).collect()))
    if (b.tracer.nonEmpty) {
      val total = st.pe.prunedFiles(lit(true)).size.toDouble
      b.note("sources.files_pruned_share", 1.0 - st.pe.prunedFiles(whereCond).size / total)
    }
    val wantRw = es.filter(e => e.reason.contains(cond) && inWindow(e))
    b.check("readWhere")(rw.length == wantRw.size &&
      rw.map(_.getAs[Double]("COST")).sum == wantRw.map(_.cost).sum, s"${rw.length} vs ${wantRw.size}")

    val sql = s"SELECT ORGANIZATION, count(*) AS n, sum(COST) AS cost " +
      s"FROM rwe.patient_encounters WHERE START_TIME >= TIMESTAMP '$from 00:00:00' " +
      s"AND START_TIME < TIMESTAMP '$until 00:00:00' GROUP BY ORGANIZATION"
    val byOrg = b.op("sql", "plans", write = false)(
      b.span("plans.spark_sql")(spark.sql(sql).collect()))
    val wantOrg = es.filter(inWindow).groupBy(_.org).map { case (o, xs) =>
      (o, xs.size.toLong, xs.map(_.cost).sum)
    }.toSet
    b.check("spark.sql over the catalog")(
      byOrg.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet == wantOrg)

    val hist = b.op("history", "sources", write = false)(
      b.span("sources.history")(st.pe.history.select(col("version"), col("operation")).collect()))
    val versions = hist.map(_.getLong(0)).sorted.toSeq
    val ops = hist.map(_.getString(1)).toSet
    b.check("history")(versions == versions.indices.map(_.toLong) && versions.size >= 2 &&
      ops.exists(_.startsWith("OPTIMIZE")), s"$versions $ops")
  }

  /** Recomputes the cohort's encounter features from the generated rows:
    * day index, age, comorbidity flags and the trailing-window sums.
    */
  private def checkFeatures(b: Bench, st: State, feats: Array[Row],
      hasPattern: Gen.Encounter => Boolean): Unit = {
    val es = st.ehr.encounters
    val cohort = es.filter(hasPattern).map(_.patient).toSet
    val rows = es.filter(e => cohort(e.patient) && e.reason.isDefined)
    val lowest = rows.map(_.startDate.toEpochDay).min
    def flags(e: Gen.Encounter) =
      Comorbidities.map(c => if (e.reason.get.toLowerCase.contains(c.toLowerCase)) 1L else 0L)
    val byPatient = rows.groupBy(_.patient)
    val want = rows.map { e =>
      val day = e.startDate.toEpochDay - lowest
      val prior = byPatient(e.patient).filter { x =>
        val d = x.startDate.toEpochDay - lowest
        d >= day - WindowDays && d <= day - 1
      }
      val age = e.startDate.toEpochDay -
        LocalDate.parse(st.patients(e.patient).get("BIRTHDATE")).toEpochDay
      val sums = Comorbidities.indices.map(i => prior.map(flags(_)(i)).sum)
      e.id -> (Seq(day, age) ++ flags(e) ++ sums :+ prior.size.toLong)
    }.toMap
    val cols = Seq("Enc_Id", "day", "age") ++ Comorbidities.indices.map(i => s"comorbidity_$i") ++
      Comorbidities.indices.map(i => s"recent_$i") :+ "recent_encounters"
    val got = feats.map { r =>
      r.getAs[String](cols.head) -> cols.tail.map(c => r.getAs[Number](c).longValue)
    }.toMap
    b.check("encounterFeatures")(got == want,
      s"${got.size} rows vs ${want.size}; first diff ${want.find(w => !got.get(w._1).contains(w._2))}")
  }
}
