package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

/** Seeded input generator. Everything the engine receives is made here
  * from `(seed, stream)`: the same seed gives byte-identical inputs, and
  * each stream (patients, a cycle's batch, the notes corpus, ...) draws
  * from its own generator so adding draws to one leaves the others fixed.
  */
object Gen {

  def rng(seed: Long, stream: String): scala.util.Random =
    new scala.util.Random(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 1000003L)

  /** Inverse-CDF sampler over ranks 0 until n with weight 1 / (rank+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: scala.util.Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // ------------------------------------------------------------------
  // EHR landing files (the Synthea-shaped CSVs the reference ETL reads)
  // ------------------------------------------------------------------

  val PatientHeader: Seq[String] = Seq("Id", "BIRTHDATE", "SSN", "DRIVERS", "PASSPORT",
    "PREFIX", "FIRST", "LAST", "SUFFIX", "MAIDEN", "BIRTHPLACE", "ADDRESS", "MARITAL",
    "RACE", "ETHNICITY", "GENDER", "ZIP")
  val EncounterHeader: Seq[String] = Seq("Id", "START", "STOP", "PATIENT", "PROVIDER",
    "CODE", "DESCRIPTION", "COST", "REASONCODE", "REASONDESCRIPTION")
  val ProviderHeader: Seq[String] = Seq("Id", "NAME", "SPECIALITY")
  val OrganizationHeader: Seq[String] =
    Seq("Id", "NAME", "ADDRESS", "CITY", "STATE", "ZIP", "GENDER")

  /** The PII columns the ETL hashes (EtlJob.PiiCols), by header name. */
  val PiiCols: Seq[String] = graft.ingest.EtlJob.PiiCols

  /** Condition names for REASONDESCRIPTION, most frequent first; none is
    * a substring of another, so a contains-pattern selects one condition.
    */
  val Conditions: IndexedSeq[String] = IndexedSeq(
    "Hypertension", "Diabetes mellitus", "Asthma", "Chronic sinusitis",
    "Osteoarthritis of knee", "Hyperlipidemia", "Anemia", "Acute bronchitis",
    "Migraine", "Obesity", "Sprain of ankle", "Otitis media", "Pneumonia",
    "Coronary heart disease", "Atrial fibrillation", "Gout", "Appendicitis",
    "Epilepsy", "Glaucoma", "Cataract", "Psoriasis", "Urinary tract infection",
    "Fracture of forearm", "Concussion", "Cystitis", "Dermatitis", "Sepsis",
    "Rheumatoid arthritis", "Hypothyroidism", "Kidney stone", "Tonsillitis",
    "Viral pharyngitis", "Laceration of thigh", "Sleep apnea", "Scoliosis",
    "Pancreatitis", "Lupus", "Shingles", "Vertigo", "Bursitis")
  val ConditionZipf = new Zipf(Conditions.size, 1.1)
  def reasonCode(c: String): Int = 1000 + Conditions.indexOf(c)

  /** (CODE, DESCRIPTION) encounter classes. */
  val EncounterClasses: IndexedSeq[(Int, String)] = IndexedSeq(
    185345009 -> "Encounter for symptom", 185349003 -> "Encounter for check up",
    162673000 -> "General examination", 50849002 -> "Emergency room admission",
    183452005 -> "Emergency hospital admission", 270427003 -> "Patient initiated encounter",
    308335008 -> "Patient encounter procedure", 424441002 -> "Prenatal initial visit",
    698314001 -> "Consultation for treatment", 390906007 -> "Follow-up encounter",
    371883000 -> "Outpatient procedure", 32485007 -> "Hospital admission")

  final case class Patient(cells: IndexedSeq[String]) {
    def id: String = cells(0)
    def get(name: String): String = cells(PatientHeader.indexOf(name))
  }
  final case class Encounter(cells: IndexedSeq[String]) {
    def id: String = cells(0)
    def patient: String = cells(3)
    def org: String = cells(4)
    def code: Int = cells(5).toInt
    def cost: Double = cells(7).toDouble
    def reason: Option[String] = Option(cells(9)).filter(_.nonEmpty)
    def startDate: LocalDate = LocalDate.parse(cells(1).take(10))
    def withCost(c: Double): Encounter = Encounter(cells.updated(7, fmtCost(c)))
  }

  /** Costs are whole multiples of 0.25, so every sum is exact in double
    * arithmetic whatever order an engine adds them in.
    */
  def fmtCost(c: Double): String = java.lang.Double.toString(c)
  def drawCost(r: scala.util.Random): Double = 0.25 * (40 + r.nextInt(4000))

  val Orgs: IndexedSeq[String] = (1 to 24).map(i => f"o$i%02d")
  private val Streets = IndexedSeq("Main St", "Oak Ave", "Elm Rd", "Pine Ln", "Cedar Ct")
  private val Cities = IndexedSeq("Boston", "Worcester", "Springfield", "Lowell",
    "Cambridge", "Quincy", "Lynn", "Salem")

  def organizations(): Seq[IndexedSeq[String]] = Orgs.zipWithIndex.map { case (id, i) =>
    IndexedSeq(id, s"Org $i", s"${i + 1} ${Streets(i % 5)}", Cities(i % 8), "MA",
      (20000 + i).toString, "")
  }
  def providers(): Seq[IndexedSeq[String]] = (1 to 30).map { i =>
    IndexedSeq(f"pr$i%02d", s"Provider $i", if (i % 3 == 0) "CARDIO" else "GP")
  }

  def patient(r: scala.util.Random, n: Int): Patient = {
    val female = r.nextBoolean()
    val bd = LocalDate.of(1930, 1, 1).plusDays(r.nextInt(80 * 365).toLong)
    def opt(p: Double, v: => String) = if (r.nextDouble() < p) v else ""
    Patient(IndexedSeq(
      f"p$n%07d", bd.toString,
      f"999-${r.nextInt(100)}%02d-${r.nextInt(10000)}%04d",
      f"S${r.nextInt(100000000)}%08d",
      f"X${r.nextInt(100000000)}%08dX",
      if (female) "Mrs." else "Mr.",
      s"First${r.nextInt(1000000)}", s"Last${r.nextInt(1000000)}",
      opt(0.1, "Jr."), if (female) opt(0.6, s"Maiden${r.nextInt(1000000)}") else "",
      s"${Cities(r.nextInt(8))} Massachusetts US",
      s"${1 + r.nextInt(9999)} ${Streets(r.nextInt(5))}",
      Seq("M", "S", "D", "W")(r.nextInt(4)),
      Seq("white", "black", "asian", "hispanic", "native")(r.nextInt(5)),
      if (r.nextInt(5) == 0) "hispanic" else "nonhispanic",
      if (female) "F" else "M",
      (10000 + r.nextInt(90000)).toString))
  }

  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  val FirstDay: LocalDate = LocalDate.of(2015, 1, 1)
  val DaySpan = 8 * 365

  def encounter(r: scala.util.Random, n: Int, patient: String): Encounter = {
    val start = LocalDateTime.of(FirstDay.plusDays(r.nextInt(DaySpan).toLong),
      java.time.LocalTime.of(8 + r.nextInt(10), r.nextInt(4) * 15))
    val (code, desc) = EncounterClasses(r.nextInt(EncounterClasses.size))
    val reason = if (r.nextInt(10) == 0) None else Some(Conditions(ConditionZipf.draw(r)))
    Encounter(IndexedSeq(
      f"e$n%08d", start.format(TsFmt), start.plusMinutes(45).format(TsFmt), patient,
      Orgs(r.nextInt(Orgs.size)), code.toString, desc, fmtCost(drawCost(r)),
      reason.map(reasonCode(_).toString).getOrElse(""), reason.getOrElse("")))
  }

  /** A corrected version of `e`: same id, patient and time, new cost and
    * reason (the kind of fix a claims feed re-sends).
    */
  def corrected(r: scala.util.Random, e: Encounter): Encounter = {
    val reason = Conditions(ConditionZipf.draw(r))
    Encounter(e.cells.updated(7, fmtCost(drawCost(r)))
      .updated(8, reasonCode(reason).toString).updated(9, reason))
  }

  final case class Ehr(
      patients: IndexedSeq[Patient],
      encounters: IndexedSeq[Encounter])

  /** `nPatients` patients with `perPatient` encounters each on average. */
  def ehr(seed: Long, nPatients: Int, nEncounters: Int): Ehr = {
    val r = rng(seed, "ehr")
    val ps = (0 until nPatients).map(i => patient(r, i))
    val es = (0 until nEncounters).map(i => encounter(r, i, ps(r.nextInt(nPatients)).id))
    Ehr(ps, es)
  }

  def csv(header: Seq[String], rows: Iterable[Seq[String]]): String = {
    val sb = new StringBuilder
    sb.append(header.mkString(",")).append('\n')
    rows.foreach(row => sb.append(row.mkString(",")).append('\n'))
    sb.toString
  }

  def writeFile(p: Path, content: String): Long = {
    Files.createDirectories(p.getParent)
    val bytes = content.getBytes(StandardCharsets.UTF_8)
    Files.write(p, bytes)
    bytes.length.toLong
  }

  /** Lands the four EHR CSVs under `dir`; returns the bytes written. */
  def landEhr(dir: Path, e: Ehr): Long =
    writeFile(dir.resolve("patients.csv"), csv(PatientHeader, e.patients.map(_.cells))) +
      writeFile(dir.resolve("encounters.csv"),
        csv(EncounterHeader, e.encounters.map(_.cells))) +
      writeFile(dir.resolve("providers.csv"), csv(ProviderHeader, providers())) +
      writeFile(dir.resolve("organizations.csv"), csv(OrganizationHeader, organizations()))

  def epochMillis(iso: String): Long =
    if (iso.length == 10) LocalDate.parse(iso).atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli
    else java.time.Instant.parse(iso).toEpochMilli

  // ------------------------------------------------------------------
  // Clinical notes and embeddings
  // ------------------------------------------------------------------

  private val ClinicalWords = IndexedSeq("patient", "reports", "denies", "pain", "history",
    "of", "with", "and", "no", "acute", "chronic", "mild", "severe", "left", "right",
    "chest", "abdominal", "headache", "fever", "cough", "shortness", "breath", "nausea",
    "vomiting", "dizziness", "fatigue", "swelling", "rash", "blood", "pressure",
    "elevated", "normal", "exam", "unremarkable", "follow", "up", "weeks", "days",
    "prescribed", "continue", "medication", "dose", "daily", "twice", "increase",
    "decrease", "lab", "results", "glucose", "cholesterol", "imaging", "xray", "ct",
    "mri", "negative", "positive", "referral", "cardiology", "neurology", "therapy")

  /** A fixed lowercase vocabulary: clinical words first (so Zipf makes
    * them the common ones), then pronounceable synthetic terms.
    */
  val Vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "do", "fi", "gu", "ha", "je")
    val synth = for (a <- syl; b <- syl; c <- syl) yield a + b + c
    (ClinicalWords ++ synth.take(1440)).distinct
  }
  val VocabZipf = new Zipf(Vocab.size, 1.0)

  val Dim = 32
  val Clusters = 16

  final case class Note(id: Long, text: String, vec: Array[Float])

  final class Corpus(seed: Long) {
    private val cr = rng(seed, "centres")
    val centres: IndexedSeq[Array[Double]] = (0 until Clusters).map { _ =>
      val v = Array.fill(Dim)(cr.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }

    def vecNear(r: scala.util.Random, c: Array[Double], sigma: Double): Array[Float] =
      c.map(x => (x + sigma * r.nextGaussian()).toFloat)

    def freshNote(r: scala.util.Random, id: Long): Note = {
      val len = 30 + r.nextInt(40)
      val text = Seq.fill(len)(Vocab(VocabZipf.draw(r))).mkString(" ")
      Note(id, text, vecNear(r, centres(r.nextInt(Clusters)), 0.08))
    }

    /** A near-duplicate of `orig`: a few token substitutions (so 3-shingle
      * Jaccard stays well above 0.7) and a slightly moved embedding.
      */
    def nearDup(r: scala.util.Random, id: Long, orig: Note): Note = {
      val toks = orig.text.split(' ')
      val subs = math.max(1, toks.length / 30)
      (0 until subs).foreach(_ => toks(r.nextInt(toks.length)) = Vocab(VocabZipf.draw(r)))
      Note(id, toks.mkString(" "),
        orig.vec.map(x => (x + 0.01 * r.nextGaussian()).toFloat))
    }

    /** `n` notes with ids from `firstId`; a `dupRate` share are near-dups
      * of an earlier original (from `pool` or this batch). Returns the
      * notes and the injected (dup, original) pairs.
      */
    def batch(r: scala.util.Random, firstId: Long, n: Int, dupRate: Double,
        pool: IndexedSeq[Note]): (IndexedSeq[Note], Seq[(Long, Long)]) = {
      val out = mutable.ArrayBuffer.empty[Note]
      val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
      val originals = mutable.ArrayBuffer.empty[Note] ++= pool
      (0 until n).foreach { i =>
        val id = firstId + i
        if (originals.nonEmpty && r.nextDouble() < dupRate) {
          val o = originals(r.nextInt(originals.size))
          out += nearDup(r, id, o)
          pairs += (id -> o.id)
        } else {
          val note = freshNote(r, id)
          out += note
          originals += note
        }
      }
      (out.toIndexedSeq, pairs.toSeq)
    }

    def queryVec(r: scala.util.Random): Array[Float] =
      vecNear(r, centres(r.nextInt(Clusters)), 0.08)

    def queryTerms(r: scala.util.Random): Seq[String] =
      Seq.fill(2 + r.nextInt(3))(Vocab(60 + r.nextInt(Vocab.size - 60))).distinct
  }
}
