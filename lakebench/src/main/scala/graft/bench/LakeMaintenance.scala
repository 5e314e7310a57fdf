package graft.bench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ingest.EtlJob
import graft.sources.{CsvIngest, LakeTable, MaterializedAgg, MaterializedJoin}

/** The reference's 00-ETL run as a daily incremental loop. Set-up lands
  * Synthea-shaped CSVs and runs `EtlJob.run`; each cycle then appends a
  * de-identified CSV batch of patients and encounters, upserts corrected
  * encounters, deletes the encounters of consent-revoking patients, runs
  * an update, refreshes the patient-encounter join view and the cost
  * aggregate view from their change feeds, compacts the small files of
  * the encounters table (even days) or the join view (odd days), and reads
  * the join view.
  *
  * A plain-Scala model of every table follows the same batches; after each
  * cycle the lake, both views and the de-identification are compared with
  * it.
  */
object LakeMaintenance {

  final case class Size(patients: Int, encounters: Int, newPatients: Int,
      newEncounters: Int, corrections: Int, revokes: Int)
  val Full: Size = Size(1000, 10000, 20, 200, 100, 2)
  val Smoke: Size = Size(200, 2000, 10, 50, 20, 1)

  private val Renames = Seq("Id" -> "Enc_Id", "START" -> "START_TIME",
    "STOP" -> "END_TIME", "PROVIDER" -> "ORGANIZATION")

  final class State(val root: Path, val size: Size) {
    val lake: String = root.resolve("lake").toString
    val encPath = s"$lake/encounters"
    val dimPath = s"$lake/patient_dim"
    val joinPath = s"$lake/patient_encounters_mv"
    val aggPath = s"$lake/cost_by_org_code"
    var enc: LakeTable = _
    var dim: LakeTable = _
    var mj: MaterializedJoin = _
    var ma: MaterializedAgg = _
    var patientLanding: StructType = _
    var encounterLanding: StructType = _
    // the model: live rows by id, in generated (CSV) form
    val patients: mutable.LinkedHashMap[String, Gen.Patient] = mutable.LinkedHashMap.empty
    val encounters: mutable.LinkedHashMap[String, Gen.Encounter] = mutable.LinkedHashMap.empty
    var nextPatient = 0
    var nextEncounter = 0
    val rawPii: mutable.Set[String] = mutable.Set.empty
  }

  def run(b: Bench): Unit = {
    val size = if (b.cfg.smoke) Smoke else Full
    // a round is one day
    b.setUpAndRun[State](i => setup(b, b.cfg.work.resolve(s"lake_maintenance-$i"), size),
      _.root, st => Seq(st.encPath, st.dimPath, st.joinPath, st.aggPath))(
      cycle(b, _, 0))((st, r) => cycle(b, st, r))
  }


  def setup(b: Bench, root: Path, size: Size): State = {
    val spark = b.spark
    val st = new State(root, size)
    val ehr = Gen.ehr(b.cfg.seed, size.patients, size.encounters)
    val landing = root.resolve("landing")
    b.inputBytes += Gen.landEhr(landing, ehr)
    b.span("ingest.etl_run") {
      b.setupPart("ingest.etl")(EtlJob.run(spark, landing.toString, st.lake, "maint"))
    }
    b.note("ingest.etl_rows",
      (2 * ehr.encounters.size + ehr.patients.size + Gen.Orgs.size + 30).toDouble)
    val patients = LakeTable(spark, s"${st.lake}/patients").read
    st.dim = LakeTable(spark, st.dimPath).write(patients.withColumnRenamed("Id", "PATIENT"))
    st.enc = LakeTable(spark, st.encPath)
    st.mj = MaterializedJoin(spark, st.enc, st.dim, st.joinPath, "Enc_Id", "PATIENT")
      .initialize(clusterBy = Some("Enc_Id"), numFiles = Some(4))
    st.ma = MaterializedAgg(spark, st.enc, st.aggPath, Seq("ORGANIZATION", "CODE"),
      Map("total_cost" -> col("COST"))).initialize()
    val back = Renames.map(_.swap).toMap
    st.encounterLanding = StructType(st.enc.read.schema.fields.map(f =>
      f.copy(name = back.getOrElse(f.name, f.name))))
    st.patientLanding = StructType(st.dim.read.schema.fields.map(f =>
      if (f.name == "PATIENT") f.copy(name = "Id") else f))
    ehr.patients.foreach(p => st.patients(p.id) = p)
    ehr.encounters.foreach(e => st.encounters(e.id) = e)
    ehr.patients.foreach(notePii(st, _))
    st.nextPatient = size.patients
    st.nextEncounter = size.encounters
    // the ETL's own patients table must hold no raw PII either
    checkNoRawPii(b, st, patients, "patients")
    st
  }

  private def notePii(st: State, p: Gen.Patient): Unit =
    Gen.PiiCols.foreach(c => Option(p.get(c)).filter(_.nonEmpty).foreach(st.rawPii += _))

  private def renamed(df: DataFrame): DataFrame =
    Renames.foldLeft(df) { case (d, (a, z)) => d.withColumnRenamed(a, z) }

  def cycle(b: Bench, st: State, c: Int): Unit = {
    val spark = b.spark
    val r = b.rng(s"cycle-$c")
    val sz = st.size
    // ---- the day's batches, generated from the model's current state ----
    val newPatients = (0 until sz.newPatients).map(i => Gen.patient(r, st.nextPatient + i))
    val patientIds = (st.patients.keys ++ newPatients.map(_.id)).toIndexedSeq
    val newEncounters = (0 until sz.newEncounters).map(i =>
      Gen.encounter(r, st.nextEncounter + i, patientIds(r.nextInt(patientIds.size))))
    val live = st.encounters.keys.toIndexedSeq
    val fixIds = r.shuffle(live).take(sz.corrections).sorted
    val fixes = fixIds.map(id => Gen.corrected(r, st.encounters(id)))
    val withEnc = st.encounters.values.map(_.patient).toSet
    val revoked = r.shuffle(st.patients.keys.filter(withEnc.contains).toIndexedSeq)
      .take(sz.revokes).sorted
    val (updOrg, updCode) =
      (Gen.Orgs(r.nextInt(Gen.Orgs.size)), Gen.EncounterClasses(r.nextInt(Gen.EncounterClasses.size))._1)
    val dir = st.root.resolve(s"landing/day-$c")
    b.inputBytes += Gen.writeFile(dir.resolve("patients.csv"),
      Gen.csv(Gen.PatientHeader, newPatients.map(_.cells))) +
      Gen.writeFile(dir.resolve("encounters.csv"),
        Gen.csv(Gen.EncounterHeader, newEncounters.map(_.cells))) +
      Gen.writeFile(dir.resolve("corrections.csv"),
        Gen.csv(Gen.EncounterHeader, fixes.map(_.cells)))

    // ---- the day's operations, each followed by its model update ----
    b.op("append", "sources", write = true, rows = newPatients.size.toLong) {
      val df = graft.functions.Deidentify(
        CsvIngest.ingestAs(spark, dir.resolve("patients.csv").toString, st.patientLanding),
        Gen.PiiCols).withColumnRenamed("Id", "PATIENT")
      b.span("sources.merge")(st.dim.merge(df, Seq("PATIENT"), whenMatched = Nil,
        insertUnmatched = true, changeFeed = true))
    }
    newPatients.foreach { p => st.patients(p.id) = p; notePii(st, p) }
    st.nextPatient += newPatients.size

    b.op("append", "sources", write = true, rows = newEncounters.size.toLong) {
      val df = renamed(CsvIngest.ingestAs(spark, dir.resolve("encounters.csv").toString,
        st.encounterLanding))
      b.span("sources.merge")(st.enc.merge(df, Seq("Enc_Id"), whenMatched = Nil,
        insertUnmatched = true, changeFeed = true))
    }
    newEncounters.foreach(e => st.encounters(e.id) = e)
    st.nextEncounter += newEncounters.size

    b.op("upsert", "sources", write = true, rows = fixes.size.toLong) {
      val df = renamed(CsvIngest.ingestAs(spark, dir.resolve("corrections.csv").toString,
        st.encounterLanding))
      b.span("sources.upsert")(st.enc.upsert(df, Seq("Enc_Id"), changeFeed = true))
    }
    fixes.foreach(e => st.encounters(e.id) = e)

    val gone = st.encounters.values.filter(e => revoked.contains(e.patient)).map(_.id).toSeq
    b.op("delete", "sources", write = true, rows = gone.size.toLong) {
      b.span("sources.delete")(st.enc.delete(col("PATIENT").isin(revoked: _*), changeFeed = true))
    }
    gone.foreach(st.encounters.remove)

    val touched = st.encounters.values.filter(e => e.org == updOrg && e.code == updCode).toSeq
    b.op("update", "sources", write = true, rows = touched.size.toLong) {
      b.span("sources.update")(st.enc.update(Map("COST" -> (col("COST") + lit(0.25))),
        col("ORGANIZATION") === updOrg && col("CODE") === updCode, changeFeed = true))
    }
    touched.foreach(e => st.encounters(e.id) = e.withCost(e.cost + 0.25))

    b.op("mv_refresh", "sources", write = true)(b.span("sources.mv_refresh")(st.mj.refresh()))
    b.op("agg_refresh", "sources", write = true)(b.span("sources.agg_refresh")(st.ma.refresh()))
    // each of the two small-file-prone tables compacts every second day
    val target = if (c % 2 == 0) st.enc else LakeTable(spark, st.joinPath)
    b.op("compact", "sources", write = true)(
      b.span("sources.compact_small")(target.compactSmall()))

    b.op("view_read", "sources", write = false) {
      b.span("sources.read")(st.mj.read)
        .groupBy(col("GENDER"), col("ORGANIZATION"))
        .agg(count(lit(1)).as("n"), sum(col("COST")).as("cost")).collect()
    }
    verify(b, st)
  }

  private def encRow(st: State, e: Gen.Encounter, schema: StructType): Map[String, Any] = {
    val byName = Renames.toMap
    Gen.EncounterHeader.zip(e.cells).map { case (h, v) =>
      val n = byName.getOrElse(h, h)
      n -> Checks.typed(v, schema(n).dataType)
    }.toMap
  }

  private def dimRow(st: State, p: Gen.Patient, schema: StructType): Map[String, Any] =
    Gen.PatientHeader.zip(p.cells).map { case (h, v) =>
      val n = if (h == "Id") "PATIENT" else h
      n -> (if (Gen.PiiCols.contains(h)) Checks.deidentified(v) else Checks.typed(v, schema(n).dataType))
    }.toMap

  private def checkNoRawPii(b: Bench, st: State, df: DataFrame, what: String): Unit = {
    val strCols = df.schema.fields.filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(f => col(f.name))
    val leaked = df.select(strCols: _*).collect().iterator
      .flatMap(r => (0 until r.length).map(r.getString)).find(v => v != null && st.rawPii(v))
    b.check(s"no raw PII in $what")(leaked.isEmpty, s"found ${leaked.getOrElse("")}")
  }

  /** Compares the lake tables and both views with the model. */
  def verify(b: Bench, st: State): Unit = {
    val encDf = st.enc.read
    val encRows = encDf.collect()
    val encModel = st.encounters.values.map(encRow(st, _, encDf.schema))
    b.check("encounters row count")(encRows.length == st.encounters.size,
      s"${encRows.length} vs ${st.encounters.size}")
    b.check("encounters cost sum")(
      encRows.map(_.getAs[Double]("COST")).sum == st.encounters.values.map(_.cost).sum)
    b.check("encounters row hash")(
      Checks.digest(encRows.map(Checks.rowMap)) == Checks.digest(encModel))

    val dimDf = st.dim.read
    val dimRows = dimDf.collect()
    b.check("patient_dim row hash (de-identified PII)")(
      Checks.digest(dimRows.map(Checks.rowMap)) ==
        Checks.digest(st.patients.values.map(dimRow(st, _, dimDf.schema))))
    checkNoRawPii(b, st, dimDf, "patient_dim")

    val joinDf = st.mj.read
    val joinRows = joinDf.collect()
    val joinModel = st.encounters.values.flatMap { e =>
      st.patients.get(e.patient).map(p =>
        encRow(st, e, joinDf.schema) ++ dimRow(st, p, joinDf.schema))
    }
    b.check("join view row count")(joinRows.length == joinModel.size,
      s"${joinRows.length} vs ${joinModel.size}")
    b.check("join view cost sum")(
      joinRows.map(_.getAs[Double]("COST")).sum == st.encounters.values.map(_.cost).sum)
    b.check("join view row hash")(
      Checks.digest(joinRows.map(Checks.rowMap)) == Checks.digest(joinModel))
    checkNoRawPii(b, st, joinDf, "join view")

    val agg = st.ma.read.collect().map(r => (r.getAs[String]("ORGANIZATION"),
      r.getAs[Any]("CODE").toString.toLong, r.getAs[Long]("n_rows"), r.getAs[Double]("total_cost"))).toSet
    val aggModel = st.encounters.values.groupBy(e => (e.org, e.code.toLong)).map { case ((o, c), es) =>
      (o, c, es.size.toLong, es.map(_.cost).sum)
    }.toSet
    b.check("aggregate view rows")(agg == aggModel,
      s"${(agg diff aggModel).take(3)} vs ${(aggModel diff agg).take(3)}")
  }
}
