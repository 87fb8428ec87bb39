package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Seeded, single-threaded generator of FHIR bulk exports for the ETL
  * workloads: a base export, then incremental exports against it.
  *
  * Besides the NDJSON files it keeps the ground truth the checks need:
  * for every resource type, the live real ids and the `meta.lastUpdated`
  * each one must carry after the pipeline has run (last copy in export
  * order wins; older-timestamp updates are skipped by the merge guard;
  * ids named in a `deleted/` bundle are gone; rows the scrub policy
  * rejects never land).
  */
final class FhirExport(seed: Long, val types: Seq[String]) {
  import FhirExport._

  private val rnd = new java.util.SplittableRandom(seed)

  /** type → (real id → expected lastUpdated) for the live rows. */
  val live: Map[String, mutable.LinkedHashMap[String, String]] =
    types.map(t => t -> mutable.LinkedHashMap.empty[String, String]).toMap
  /** Real ids deleted by some export, per type. */
  val deleted: Map[String, mutable.Set[String]] =
    types.map(t => t -> mutable.Set.empty[String]).toMap
  /** Ids whose last export carried an older lastUpdated (guard skips). */
  val staleUpdated: Map[String, mutable.Set[String]] =
    types.map(t => t -> mutable.Set.empty[String]).toMap

  private val next = mutable.Map(Types.map(_ -> 0): _*)
  private var batches = 0

  /** Write the base export: `total` resources split over the types
    * (mostly Observation when it is one of them), in one to three files
    * per type as the seed draws. Each in-export duplicate is appended to
    * the file that holds its first copy, or with `crossFileDups` (two
    * files per type) to the type's last file.
    */
  def writeBase(dir: Path, total: Int, crossFileDups: Boolean = false): Export = {
    Files.createDirectories(dir)
    val share = Map("Patient" -> 15, "Encounter" -> 6, "DocumentReference" -> 30)
    val counts =
      if (types.size == 1) Map(types.head -> total)
      else share.filter(kv => types.contains(kv._1))
        .map { case (t, d) => t -> total / d }
    val withObs = counts + ("Observation" -> (total - counts.values.sum))
    val ts = (i: Int) => f"2024-01-${1 + rnd.nextInt(28)}%02dT" +
      f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02dZ"
    var bytes = 0L
    var resources = 0L
    types.foreach { t =>
      val n = withObs(t)
      val shards = if (crossFileDups) 2 else 1 + rnd.nextInt(3)
      val files = Array.fill(shards)(new StringBuilder)
      val rows = (0 until n).map { i =>
        val id = newId(t)
        val stamp = ts(i)
        val reject = i == 0 || rnd.nextInt(1000) < RejectPerMille
        if (!reject) live(t)(id) = stamp
        files(i % shards).append(resource(t, id, stamp, reject,
          dropExt = i == 1)).append('\n')
        resources += 1
        id
      }
      // in-export duplicates: a later copy with a newer stamp; export
      // order makes it the winner
      rows.zipWithIndex.filter { case (id, _) => live(t).contains(id) }
        .filter(_ => rnd.nextInt(1000) < DupPerMille)
        .foreach { case (id, i) =>
          val stamp = "2024-01-29T00:00:00Z".replace("00:00:00",
            f"${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00")
          live(t)(id) = stamp
          files(if (crossFileDups) shards - 1 else i % shards)
            .append(resource(t, id, stamp, reject = false)).append('\n')
          resources += 1
        }
      files.zipWithIndex.foreach { case (sb, s) =>
        bytes += write(dir.resolve(f"$t.$s%03d.ndjson"), sb.toString)
      }
    }
    Export(dir, resources, bytes)
  }

  /** Write the next incremental export: about `frac` of each type's live
    * rows (at least 20), as updates (about one in eight carrying an OLDER
    * lastUpdated), inserts (one or two of them rows the scrub policy
    * rejects), in-export duplicates of inserts, and a deleted-ids bundle
    * naming one to a few ids; the seed draws the counts. Without
    * `rejectedRow` the export has no rejected row, so its nested schema
    * is narrower than the other exports'.
    */
  def writeIncrement(dir: Path, frac: Double, rejectedRow: Boolean = true): Export = {
    Files.createDirectories(dir.resolve("deleted"))
    batches += 1
    // strictly newer than every earlier stamp: one hour per batch
    val day = 1 + (batches - 1) / 24
    val hour = (batches - 1) % 24
    def fresh(): String =
      f"2024-03-$day%02dT$hour%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02dZ"
    def old(): String =
      f"2023-06-${1 + rnd.nextInt(28)}%02dT12:00:00Z"
    var bytes = 0L
    var resources = 0L
    val deletes = new StringBuilder
    types.foreach { t =>
      val rows = live(t)
      val n = math.max(20, (rows.size * frac).toInt)
      val picked = sample(rows.keysIterator.toIndexedSeq,
        n * 8 / 10 + 1 + rnd.nextInt(math.max(1, n / 10)))
      val (touched, gone) = picked.splitAt(n * 8 / 10)
      val rejects = if (rejectedRow) 1 + rnd.nextInt(2) else 0
      val main = new StringBuilder
      val later = new StringBuilder
      touched.foreach { id =>
        if (rnd.nextInt(8) == 0) {
          // stale re-export: the merge guard must keep the newer row
          staleUpdated(t) += id
          main.append(resource(t, id, old(), reject = false)).append('\n')
        } else {
          val stamp = fresh()
          rows(id) = stamp
          staleUpdated(t) -= id
          main.append(resource(t, id, stamp, reject = false)).append('\n')
        }
        resources += 1
      }
      (0 until n - touched.size).foreach { i =>
        val id = newId(t)
        val reject = i < rejects
        val stamp = fresh()
        if (!reject) rows(id) = stamp
        main.append(resource(t, id, stamp, reject, dropExt = i == rejects))
          .append('\n')
        resources += 1
        if (!reject && (i == rejects + 1 || rnd.nextInt(10) == 0)) {
          val newer = stamp.replace("Z", "").dropRight(2) + "59Z"
          rows(id) = newer
          later.append(resource(t, id, newer, reject = false)).append('\n')
          resources += 1
        }
      }
      gone.foreach { id =>
        rows.remove(id)
        staleUpdated(t) -= id
        deleted(t) += id
        if (deletes.nonEmpty) deletes.append(',')
        deletes.append(s"""{"request":{"method":"DELETE","url":"$t/$id"}}""")
      }
      bytes += write(dir.resolve(s"$t.000.ndjson"), main.append(later).toString)
    }
    bytes += write(dir.resolve("deleted/Bundle.000.ndjson"),
      s"""{"resourceType":"Bundle","type":"transaction","entry":[$deletes]}""" + "\n")
    Export(dir, resources, bytes)
  }

  private def newId(t: String): String = {
    val n = next(t); next(t) = n + 1
    s"${Prefix(t)}-$n"
  }

  private def sample(ids: IndexedSeq[String], k: Int): IndexedSeq[String] = {
    val chosen = mutable.LinkedHashSet.empty[String]
    while (chosen.size < math.min(k, ids.size))
      chosen += ids(rnd.nextInt(ids.size))
    chosen.toIndexedSeq
  }

  private def patientRef(): String = s"Patient/pat-${rnd.nextInt(math.max(1000, next("Patient")))}"
  private def encounterRef(): String = s"Encounter/enc-${rnd.nextInt(math.max(1000, next("Encounter")))}"

  /** One resource. Every export carries at least one rejected row and
    * one dropped extension per type, so all exports of a site widen to
    * the same nested schema.
    */
  private def resource(t: String, id: String, stamp: String,
      reject: Boolean, dropExt: Boolean = false): String = {
    val meta = s""""meta":{"lastUpdated":"$stamp"}"""
    val modifier =
      if (reject) s""","modifierExtension":[{"url":"$UnknownModifier","valueBoolean":true}]"""
      else ""
    val dropped = dropExt || rnd.nextInt(100) < DroppedExtPct
    val ext = (known: String) =>
      if (dropped) s""","extension":[$known,{"url":"$UnknownExtension","valueString":"v${rnd.nextInt(9)}"}]"""
      else s""","extension":[$known]"""
    t match {
      case "Patient" =>
        val g = if (rnd.nextBoolean()) "female" else "male"
        s"""{"resourceType":"Patient","id":"$id",$meta,"gender":"$g","birthDate":"19${40 + rnd.nextInt(60)}-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(10)}","name":[{"family":"Fam${rnd.nextInt(5000)}","given":["Giv${rnd.nextInt(900)}"]}],"address":[{"city":"City${rnd.nextInt(300)}","state":"MA","postalCode":"0${2000 + rnd.nextInt(800)}"}]""" +
          ext(s"""{"url":"$BirthSex","valueCode":"${g.head.toUpper}"}""") + modifier + "}"
      case "Encounter" =>
        s"""{"resourceType":"Encounter","id":"$id",$meta,"status":"finished","class":{"system":"http://terminology.hl7.org/CodeSystem/v3-ActCode","code":"${if (rnd.nextBoolean()) "AMB" else "IMP"}"},"type":[{"coding":[{"system":"http://snomed.info/sct","code":"${185000000 + rnd.nextInt(500)}"}]}],"subject":{"reference":"${patientRef()}"},"period":{"start":"2021-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(10)}T08:00:00Z","end":"2021-0${1 + rnd.nextInt(9)}-2${rnd.nextInt(9)}T09:00:00Z"}""" +
          modifier + "}"
      case "Observation" =>
        s"""{"resourceType":"Observation","id":"$id",$meta,"status":"final","category":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/observation-category","code":"laboratory"}]}],"code":{"coding":[{"system":"http://loinc.org","code":"${1000 + rnd.nextInt(700)}-${rnd.nextInt(10)}","display":"Lab test ${rnd.nextInt(700)}"}]},"subject":{"reference":"${patientRef()}"},"encounter":{"reference":"${encounterRef()}"},"effectiveDateTime":"2021-${10 + rnd.nextInt(3)}-1${rnd.nextInt(10)}T10:${rnd.nextInt(50) + 10}:00Z","valueQuantity":{"value":${rnd.nextInt(40000) / 100.0},"unit":"mg/dL","system":"http://unitsofmeasure.org","code":"mg/dL"}""" +
          ext(s"""{"url":"$Derivation","valueReference":{"reference":"Observation/obs-${rnd.nextInt(math.max(1, next("Observation")))}"}}""") + modifier + "}"
      case "DocumentReference" =>
        val body = java.util.Base64.getEncoder.encodeToString(
          s"Note ${rnd.nextInt(100000)}: patient seen, vitals stable.".getBytes(UTF_8))
        s"""{"resourceType":"DocumentReference","id":"$id",$meta,"status":"current","type":{"coding":[{"system":"http://loinc.org","code":"18842-5"}]},"subject":{"reference":"${patientRef()}"},"date":"2021-0${1 + rnd.nextInt(9)}-0${1 + rnd.nextInt(9)}T11:00:00Z","context":{"encounter":[{"reference":"${encounterRef()}"}]},"content":[{"attachment":{"contentType":"text/plain","data":"$body"}}]""" +
          modifier + "}"
    }
  }

  private def write(p: Path, s: String): Long = {
    val b = s.getBytes(UTF_8)
    Files.write(p, b)
    b.length.toLong
  }
}

object FhirExport {
  /** Every type the generator can write; a workload picks a subset. */
  val Types: Seq[String] =
    Seq("Patient", "Encounter", "Observation", "DocumentReference")
  val Prefix: Map[String, String] = Map("Patient" -> "pat",
    "Encounter" -> "enc", "Observation" -> "obs", "DocumentReference" -> "doc")
  /** Real ids as the generator writes them; none may survive the scrub. */
  val RealIdPattern = "(pat|enc|obs|doc)-[0-9]+"

  final case class Export(dir: Path, resources: Long, bytes: Long)

  private val RejectPerMille = 3
  private val DupPerMille = 5
  private val DroppedExtPct = 5
  private val UnknownModifier =
    "http://example.org/fhir/StructureDefinition/unreviewed-modifier"
  private val UnknownExtension =
    "http://example.org/fhir/StructureDefinition/site-local-note"
  private val BirthSex =
    "http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex"
  private val Derivation =
    "http://hl7.org/fhir/StructureDefinition/derivation-reference"
}
