package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** i2b2 legacy CSV source → FHIR rows (SURVEY §2.1 S6-S8).
  *
  * The reference streams dimension CSVs row-by-row through per-record
  * Python transforms (loaders/i2b2/extract.py:13-53,
  * transform.py:22-392); here each dimension is one CSV scan plus a
  * declarative select — code lookups become broadcast literal maps via
  * `element_at(typedLit(map))`, date chopping is substring, and the
  * in-file first-wins dedup (S8, loader.py:114-139) is dropDuplicates.
  */
object I2b2Source {

  /** FHIR administrative gender (transform.py: FHIR_GENDER; unknown
    * codes → "other").
    */
  private val genderMap = typedlit(Map("F" -> "female", "M" -> "male",
    "U" -> "unknown"))

  /** CDC race + ethnicity codings (external_mappings.py:7-26). */
  private val cdcOid = "urn:oid:2.16.840.1.113883.6.238"
  private val nullFlavor =
    "http://terminology.hl7.org/CodeSystem/v3-NullFlavor"
  private val raceMap = typedlit(Map(
    "White" -> s"$cdcOid|2106-3",
    "Black or African American" -> s"$cdcOid|2054-5",
    "American Indian or Alaska Native" -> s"$cdcOid|1002-5",
    "Asian" -> s"$cdcOid|2028-9",
    "Native Hawaiian or Other Pacific Islander" -> s"$cdcOid|2076-8",
    "Other" -> s"$cdcOid|2131-1",
    "Declined to Answer" -> s"$nullFlavor|ASKU",
    "Unable to Answer" -> s"$nullFlavor|ASKU",
    "Unknown" -> s"$nullFlavor|UNK"
  ))
  private val ethnicityMap = typedlit(Map(
    "Hispanic or Latino" -> s"$cdcOid|2135-2",
    "Not Hispanic or Latino" -> s"$cdcOid|2186-5",
    "Declined to Answer" -> s"$nullFlavor|ASKU",
    "Unable to Answer" -> s"$nullFlavor|ASKU",
    "Unknown" -> s"$nullFlavor|UNK"
  ))

  /** SNOMED lab-result qualifiers (external_mappings.py:56-61). */
  private val snomedLabMap = typedlit(Map(
    "positive" -> "10828004",
    "negative" -> "260385009",
    "absent" -> "272519000"
  ))

  private def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(path)

  /** S8: first-wins in-file dedup (later duplicate ids are export echos;
    * contrast with the ETL-side LAST-wins dedup A1).
    */
  def dedupFirstWins(df: DataFrame, idCol: String): DataFrame =
    df.dropDuplicates(idCol)

  /** patient_dimension.csv → FHIR Patient rows (transform.py:22-86). */
  def patients(spark: SparkSession, path: String): DataFrame = {
    val raw = dedupFirstWins(readCsv(spark, path), "PATIENT_NUM")
    val raceKey = element_at(raceMap, col("RACE_CD"))
    val ethKey = element_at(ethnicityMap, col("RACE_CD"))
    def extFor(key: org.apache.spark.sql.Column, url: String) =
      when(key.isNotNull,
        struct(
          lit(url).as("url"),
          array(struct(
            lit("ombCategory").as("url"),
            struct(
              split_part(key, lit("|"), lit(1)).as("system"),
              split_part(key, lit("|"), lit(2)).as("code"),
              col("RACE_CD").as("display")
            ).as("valueCoding")
          )).as("extension")
        ))
    raw.select(
      lit("Patient").as("resourceType"),
      col("PATIENT_NUM").as("id"),
      struct(array(lit(
        "http://hl7.org/fhir/us/core/StructureDefinition/us-core-patient"))
        .as("profile")).as("meta"),
      when(col("BIRTH_DATE").isNotNull,
        substring(col("BIRTH_DATE"), 1, 10)).as("birthDate"),
      when(col("DEATH_DATE").isNotNull,
        substring(col("DEATH_DATE"), 1, 10)).as("deceasedDateTime"),
      when(col("SEX_CD").isNotNull,
        coalesce(element_at(genderMap, col("SEX_CD")), lit("other")))
        .as("gender"),
      when(col("ZIP_CD").isNotNull,
        array(struct(lit("US").as("country"),
          col("ZIP_CD").as("postalCode")))).as("address"),
      filter(array(extFor(raceKey,
        "http://hl7.org/fhir/us/core/StructureDefinition/us-core-race"),
        extFor(ethKey,
          "http://hl7.org/fhir/us/core/StructureDefinition/us-core-ethnicity")),
        e => e.isNotNull).as("extension")
    )
  }

  /** visit_dimension.csv → FHIR Encounter rows (transform.py:87-123). */
  /** INOUT_CD → v3-ActCode class (external_mappings.py:67-75). */
  private val admissionMap = typedlit(Map(
    "Day Surgery" -> "AMB",
    "Emergency" -> "EMER",
    "Inpatient" -> "IMP",
    "Observation" -> "OBSENC",
    "Outpatient" -> "AMB",
    "Recurring Outpatient Series" -> "AMB"
  ))

  def encounters(spark: SparkSession, path: String): DataFrame = {
    val raw = dedupFirstWins(readCsv(spark, path), "ENCOUNTER_NUM")
    // i2b2 exports vary in column presence; absent columns read as null
    // (the reference's row.get(...) tolerance, schema.py:141)
    def colOr(name: String) =
      if (raw.columns.contains(name)) col(name)
      else lit(null).cast("string")
    val los = colOr("LENGTH_OF_STAY").cast("double")
    val inout = colOr("INOUT_CD")
    raw.select(
      lit("Encounter").as("resourceType"),
      col("ENCOUNTER_NUM").as("id"),
      struct(array(lit(
        "http://hl7.org/fhir/us/core/StructureDefinition/us-core-encounter"))
        .as("profile")).as("meta"),
      // us-core demands status + type + class even when i2b2 has no
      // signal — same constants the reference emits (transform.py:87-123)
      lit("unknown").as("status"),
      struct(
        concat(lit("Patient/"), col("PATIENT_NUM")).as("reference")
      ).as("subject"),
      struct(
        when(col("START_DATE").isNotNull,
          substring(col("START_DATE"), 1, 10)).as("start"),
        when(col("END_DATE").isNotNull,
          substring(col("END_DATE"), 1, 10)).as("end")
      ).as("period"),
      array(struct(array(struct(
        lit("http://snomed.info/sct").as("system"),
        lit("308335008").as("code"),
        lit("Patient encounter procedure").as("display")
      )).as("coding"))).as("type"),
      // truthy in the reference: LENGTH_OF_STAY of 0/empty emits no field
      when(los.isNotNull && los =!= 0.0,
        struct(lit("d").as("unit"), los.as("value"))).as("length"),
      struct(
        lit("http://terminology.hl7.org/CodeSystem/v3-ActCode").as("system"),
        coalesce(element_at(admissionMap, inout), lit("?")).as("code")
      ).as("class")
    )
  }

  /** diagnosis observation facts → FHIR Condition rows with the ICD/
    * SNOMED system-prefix split (transform.py:195-243).
    */
  def conditions(spark: SparkSession, path: String): DataFrame =
    conditions(spark, path, Map.empty)

  /** @param displayCodes system → code → display text, the reference's
    *                     `icd.json` side input (loader.py:65-69) — an
    *                     external vocabulary table (e.g. public
    *                     ICD-10-CM descriptions) supplied by the caller;
    *                     codes of a mapped system missing from the table
    *                     display as "Unknown", exactly like make_concept
    *                     (transform.py:382-393).
    */
  def conditions(spark: SparkSession, path: String,
      displayCodes: Map[String, Map[String, String]]): DataFrame = {
    val raw = dedupFirstWins(readCsv(spark, path), "INSTANCE_NUM")
    val sysPrefix = split_part(col("CONCEPT_CD"), lit(":"), lit(1))
    val bareCode = split_part(col("CONCEPT_CD"), lit(":"), lit(2))
    val systemMap = typedlit(Map(
      "ICD10" -> "http://hl7.org/fhir/sid/icd-10-cm",
      "ICD-10" -> "http://hl7.org/fhir/sid/icd-10-cm",
      "ICD10PROC" -> "http://hl7.org/fhir/sid/icd-10-pcs",
      "ICD9" -> "http://hl7.org/fhir/sid/icd-9-cm",
      "ICD-9" -> "http://hl7.org/fhir/sid/icd-9-cm",
      "ICD9PROC" -> "http://hl7.org/fhir/sid/icd-9-pcs",
      "SNOMED" -> "http://snomed.info/sct",
      "SNOMED-CT" -> "http://snomed.info/sct",
      "SNOMEDCT" -> "http://snomed.info/sct",
      "SCT" -> "http://snomed.info/sct"
    ))
    val mappedSys = element_at(systemMap, sysPrefix)
    val system = coalesce(mappedSys,
      lit("http://cumulus.smarthealthit.org/i2b2"))
    val code = when(mappedSys.isNotNull, bareCode)
      .otherwise(col("CONCEPT_CD"))
    def concept(c: org.apache.spark.sql.Column,
        sys: org.apache.spark.sql.Column) =
      struct(array(struct(sys.as("system"), c.as("code"))).as("coding"))
    // display lookup from the caller-supplied vocabulary: only when the
    // resolved system is present in the table; unknown codes → "Unknown"
    val display: org.apache.spark.sql.Column =
      if (displayCodes.isEmpty) lit(null).cast("string")
      else {
        val dc = typedlit(displayCodes)
        when(element_at(dc, system).isNotNull,
          coalesce(element_at(element_at(dc, system), code),
            lit("Unknown")))
      }
    raw.select(
      lit("Condition").as("resourceType"),
      col("INSTANCE_NUM").as("id"),
      struct(array(lit(
        "http://hl7.org/fhir/us/core/StructureDefinition/us-core-condition"))
        .as("profile")).as("meta"),
      array(struct(array(struct(
        lit("http://terminology.hl7.org/CodeSystem/condition-category")
          .as("system"),
        lit("encounter-diagnosis").as("code"),
        lit("Encounter Diagnosis").as("display")
      )).as("coding"))).as("category"),
      struct(concat(lit("Patient/"), col("PATIENT_NUM")).as("reference"))
        .as("subject"),
      struct(concat(lit("Encounter/"), col("ENCOUNTER_NUM"))
        .as("reference")).as("encounter"),
      when(col("START_DATE").isNotNull,
        substring(col("START_DATE"), 1, 10)).as("recordedDate"),
      concept(lit("active"),
        lit("http://terminology.hl7.org/CodeSystem/condition-clinical"))
        .as("clinicalStatus"),
      concept(lit("unconfirmed"),
        lit("http://terminology.hl7.org/CodeSystem/condition-ver-status"))
        .as("verificationStatus"),
      struct(array(struct(system.as("system"), code.as("code"),
        display.as("display"))).as("coding")).as("code")
    )
  }

  /** medication observation facts → FHIR MedicationRequest rows
    * (transform.py:246-265).
    */
  def medicationRequests(spark: SparkSession, path: String): DataFrame = {
    val raw = dedupFirstWins(readCsv(spark, path), "INSTANCE_NUM")
    raw.select(
      lit("MedicationRequest").as("resourceType"),
      col("INSTANCE_NUM").as("id"),
      lit("unknown").as("status"),
      lit("order").as("intent"),
      struct(array(struct(
        lit("http://cumulus.smarthealthit.org/i2b2").as("system"),
        col("CONCEPT_CD").as("code"),
        col("CONCEPT_CD").as("display")
      )).as("coding")).as("medicationCodeableConcept"),
      struct(concat(lit("Patient/"), col("PATIENT_NUM")).as("reference"))
        .as("subject"),
      struct(concat(lit("Encounter/"), col("ENCOUNTER_NUM"))
        .as("reference")).as("encounter"),
      when(col("START_DATE").isNotNull,
        substring(col("START_DATE"), 1, 10)).as("authoredOn")
    )
  }

  /** note observation facts → FHIR DocumentReference rows with the note
    * blob base64-encoded into an inline text attachment
    * (transform.py:275-317; the "¿" line-feed artifact is blanked like
    * the reference does).
    */
  def documentReferences(spark: SparkSession, path: String): DataFrame = {
    val raw = dedupFirstWins(readCsv(spark, path), "INSTANCE_NUM")
    val blob = regexp_replace(coalesce(col("OBSERVATION_BLOB"), lit("")),
      "¿", " ")
    raw.select(
      lit("DocumentReference").as("resourceType"),
      col("INSTANCE_NUM").as("id"),
      lit("current").as("status"),
      struct(concat(lit("Patient/"), col("PATIENT_NUM")).as("reference"))
        .as("subject"),
      struct(
        array(struct(concat(lit("Encounter/"), col("ENCOUNTER_NUM"))
          .as("reference"))).as("encounter"),
        struct(
          when(col("START_DATE").isNotNull,
            substring(col("START_DATE"), 1, 10)).as("start"),
          when(col("END_DATE").isNotNull,
            substring(col("END_DATE"), 1, 10)).as("end")
        ).as("period")
      ).as("context"),
      // display (inside the coding, make_concept-style), not text —
      // and truthy like the reference: empty TVAL_CHAR emits nothing
      struct(array(struct(
        lit("http://cumulus.smarthealthit.org/i2b2").as("system"),
        col("CONCEPT_CD").as("code"),
        when(length(col("TVAL_CHAR")) > 0, col("TVAL_CHAR")).as("display")
      )).as("coding")).as("type"),
      array(struct(struct(
        lit("text/plain").as("contentType"),
        base64(encode(blob, "UTF-8")).as("data")
      ).as("attachment"))).as("content")
    )
  }

  /** observation_fact lab CSV → FHIR Observation rows with SNOMED
    * result interpretation (transform.py:124-165).
    */
  /** i2b2 → FHIR unit-code mapping (UCUM), from the public UCUM
    * vocabulary (reference: loaders/i2b2/external_mappings.py:80-93).
    */
  private val ucumMap = typedlit(Map(
    "%" -> "%",
    "bpm" -> "/min",
    "br/min" -> "/min",
    "cm" -> "cm",
    "DegC" -> "Cel",
    "DegF" -> "[degF]",
    "in" -> "[in_i]",
    "kg" -> "kg",
    "kg/m2" -> "kg/m2",
    "lb" -> "[lb_av]",
    "mmHg" -> "mm[Hg]"
  ))

  /** i2b2 comparison code → FHIR Quantity.comparator
    * (external_mappings.py:99-105; "E" = equal → no comparator).
    */
  private val comparatorMap = typedlit(Map(
    "L" -> "<", "LE" -> "<=", "GE" -> ">=", "G" -> ">"
  ))

  /** S7 (obs-vitals): observation facts → us-core vital-signs
    * Observations (transform.py:166-192), with the full value-column
    * dispatch of get_observation_value (transform.py:329-381):
    * valtype T → text concept, B → blob concept, @ → no value,
    * N → valueQuantity with UCUM unit mapping and comparator parsing.
    */
  def vitalsObservations(spark: SparkSession, path: String): DataFrame = {
    val raw = dedupFirstWins(readCsv(spark, path), "INSTANCE_NUM")
    val i2b2System = "http://cumulus.smarthealthit.org/i2b2"
    def concept(code: org.apache.spark.sql.Column, system: String) =
      struct(array(struct(
        lit(system).as("system"), code.as("code"))).as("coding"))
    val ucum = element_at(ucumMap, col("UNITS_CD"))
    val quantity = struct(
      col("NVAL_NUM").cast("double").as("value"),
      col("UNITS_CD").as("unit"),
      when(ucum.isNotNull, lit("http://unitsofmeasure.org")).as("system"),
      ucum.as("code"),
      element_at(comparatorMap, col("TVAL_CHAR")).as("comparator")
    )
    raw.select(
      lit("Observation").as("resourceType"),
      col("INSTANCE_NUM").as("id"),
      lit("unknown").as("status"),
      array(concept(lit("vital-signs"),
        "http://terminology.hl7.org/CodeSystem/observation-category"))
        .as("category"),
      concept(col("CONCEPT_CD"), i2b2System).as("code"),
      struct(concat(lit("Patient/"), col("PATIENT_NUM")).as("reference"))
        .as("subject"),
      struct(concat(lit("Encounter/"), col("ENCOUNTER_NUM"))
        .as("reference")).as("encounter"),
      when(col("START_DATE").isNotNull,
        substring(col("START_DATE"), 1, 10)).as("effectiveDateTime"),
      when(col("VALTYPE_CD") === "T",
        concept(col("TVAL_CHAR"), i2b2System))
        .when(col("VALTYPE_CD") === "B",
          concept(col("OBSERVATION_BLOB"), i2b2System))
        .as("valueCodeableConcept"),
      when(col("VALTYPE_CD") === "N", quantity).as("valueQuantity")
    )
  }

  /** BCH lab code → LOINC COVID test codes
    * (external_mappings.py:39-50; public LOINC codes).
    */
  private val loincCovidMap = typedlit(Map(
    "LAB:1043473617" -> "94500-6",
    "LAB:1044804335" -> "94500-6",
    "LAB:1044704735" -> "94500-6",
    "LAB:1134792565" -> "95406-5",
    "LAB:1148157467" -> "95406-5",
    "LAB:467288722" -> "85477-8",
    "LAB:152831642" -> "85476-0",
    "LAB:467288694" -> "85478-6",
    "LAB:467288700" -> "85479-4",
    "LAB:13815125" -> "62462-7"
  ))

  /** S7 (obs-lab): transform.py:124-163 — known COVID lab codes map to
    * LOINC, the rest stay in the i2b2 system; SNOMED result qualifiers
    * when recognized, else the raw value in the i2b2 system with the
    * original display.
    */
  /** S6/S7 loader stage (loader.py:24-37,141-170): detect the standard
    * i2b2 CSV exports in `i2b2Dir`, transform each to FHIR rows, and
    * stage them as NDJSON under `outDir` — after which the normal
    * NDJSON pipeline is format-agnostic, exactly like the reference.
    * Both Observation sources (labs + vitals) land in the same staged
    * file set; their ids are str(INSTANCE_NUM) like the reference
    * (transform.py:136,177), so an instance number shared across the
    * two fact views collapses at the ETL's id dedup — reference-
    * identical behavior. Returns the detected resource types.
    */
  def loadToNdjson(spark: SparkSession, i2b2Dir: String,
      outDir: String): Set[String] =
    loadToNdjson(spark, i2b2Dir, outDir, Map.empty)

  def loadToNdjson(spark: SparkSession, i2b2Dir: String,
      outDir: String,
      displayCodes: Map[String, Map[String, String]]): Set[String] = {
    graft.sinks.Store(outDir, spark).mkdirs()
    val in = graft.sinks.Store(i2b2Dir, spark)
    def has(name: String): Boolean = in.fs.exists(in(name))
    def stage(df: DataFrame, fileBase: String): Unit =
      graft.sinks.NdjsonSink.writeBatch(df, outDir, fileBase)
    val sources: Seq[(String, String, (SparkSession, String) => DataFrame)] =
      Seq(
        ("patient_dimension.csv", "Patient", patients),
        ("visit_dimension.csv", "Encounter", encounters),
        ("observation_fact_diagnosis.csv", "Condition",
          (s: SparkSession, p: String) => conditions(s, p, displayCodes)),
        ("observation_fact_lab_views.csv", "Observation", labObservations),
        ("observation_fact_vitals.csv", "Observation", vitalsObservations),
        ("observation_fact_medications.csv", "MedicationRequest",
          medicationRequests),
        ("observation_fact_notes.csv", "DocumentReference",
          documentReferences)
      )
    sources.flatMap { case (file, resource, fn) =>
      if (!has(file)) None
      else {
        stage(fn(spark, s"$i2b2Dir/$file"), resource)
        Some(resource)
      }
    }.toSet
  }

  def labObservations(spark: SparkSession, path: String): DataFrame = {
    val raw = dedupFirstWins(readCsv(spark, path), "INSTANCE_NUM")
    val i2b2System = "http://cumulus.smarthealthit.org/i2b2"
    val loinc = element_at(loincCovidMap, col("CONCEPT_CD"))
    val resultCode = element_at(snomedLabMap, lower(col("TVAL_CHAR")))
    raw.select(
      lit("Observation").as("resourceType"),
      col("INSTANCE_NUM").as("id"),
      lit("unknown").as("status"),
      array(struct(array(struct(
        lit("http://terminology.hl7.org/CodeSystem/observation-category")
          .as("system"),
        lit("laboratory").as("code"))).as("coding"))).as("category"),
      struct(concat(lit("Patient/"), col("PATIENT_NUM")).as("reference"))
        .as("subject"),
      struct(concat(lit("Encounter/"), col("ENCOUNTER_NUM"))
        .as("reference")).as("encounter"),
      when(col("START_DATE").isNotNull,
        substring(col("START_DATE"), 1, 10)).as("effectiveDateTime"),
      struct(array(struct(
        when(loinc.isNotNull, lit("http://loinc.org"))
          .otherwise(lit(i2b2System)).as("system"),
        coalesce(loinc, col("CONCEPT_CD")).as("code")
      )).as("coding")).as("code"),
      struct(array(struct(
        when(resultCode.isNotNull, lit("http://snomed.info/sct"))
          .otherwise(lit(i2b2System)).as("system"),
        coalesce(resultCode, col("TVAL_CHAR")).as("code"),
        col("TVAL_CHAR").as("display")
      )).as("coding")).as("valueCodeableConcept")
    )
  }
}
