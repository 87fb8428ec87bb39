package graft.deid

import java.security.SecureRandom
import java.util.UUID

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.functions.HmacSha256Hex
import graft.sinks.Store
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Codebook: salt management + pseudonymous ID generation.
  *
  * The reference persists `codebook.json` {version, codebook_id, id_salt}
  * in the PHI dir and derives every fake ID as HMAC-SHA256(salt, realId)
  * (cumulus_etl/deid/codebook.py:104-217). Patient/Encounter mappings are
  * additionally cached for reversibility — in Spark that write-side-effect
  * becomes a side-output DataFrame ([[mappingTable]]) the caller persists,
  * instead of mutated shared state (SURVEY §7.4 risk 3).
  */
final case class Codebook(
    codebookId: String,
    saltHex: String,
    /** Legacy random (pre-hash) mappings per resource type, loaded from
      * codebook.json extra sections ("Patient": {real → fake}, …) — the
      * reference keeps honoring these so existing de-identified data
      * stays linkable (codebook.py:180-186 "only BCH is using this").
      */
    legacy: Map[String, Map[String, String]] = Map.empty
) {

  def salt: Array[Byte] =
    saltHex.sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray

  /** F1: fake ID for an id column — pure keyed hash, any resource type. */
  def fakeId(id: Column): Column = HmacSha256Hex(salt, id)

  /** F1 with the reference's full lookup order for a known resource
    * type: legacy cached mapping first (broadcast literal map), hash
    * fallback (codebook.py:165-202 _preserved_resource_hash).
    */
  def fakeIdFor(resourceType: String, id: Column): Column =
    legacy.get(resourceType).filter(_.nonEmpty) match {
      case Some(m) => coalesce(element_at(typedlit(m), id), fakeId(id))
      case None => fakeId(id)
    }

  /** F2: anonymize "Type/id" reference strings; types with legacy
    * mappings consult them first, like direct ids.
    */
  def anonRef(ref: Column): Column = {
    val base = graft.functions.DeidFunctions.anonRef(salt, ref)
    legacy.filter(_._2.nonEmpty).toSeq.sortBy(_._1)
      .foldLeft(base) { case (acc, (t, m)) =>
        val bare = substring_index(ref, "/", -1)
        val mapped = element_at(typedlit(m), bare)
        when(ref.startsWith(s"$t/") && mapped.isNotNull,
          concat(lit(s"$t/"), mapped))
          .otherwise(acc)
      }
  }

  /** Reversibility side-output for Patient/Encounter: the distinct
    * (resourceType, realId, fakeId) mapping rows this batch produced.
    * Caller merges it into the persisted mapping table (the Spark-native
    * equivalent of codebook-cached-mappings.json).
    */
  def mappingTable(df: DataFrame, idCol: String,
      resourceType: String): DataFrame =
    df.select(
        lit(resourceType).as("resource_type"),
        col(idCol).as("real_id"),
        fakeIdFor(resourceType, col(idCol)).as("fake_id")
      )
      .distinct()
}

object Codebook {
  private val mapper = new ObjectMapper()

  /** Deterministic codebook for tests/golden runs (pinned salt). */
  def withSalt(saltHex: String): Codebook =
    Codebook("00000000-0000-0000-0000-000000000000", saltHex)

  /** Load codebook.json from `dir`, creating (and persisting) a fresh
    * 32-byte salt + id when absent — mirroring the reference's lifecycle.
    * A version-0 file has no salt: the one drawn for it is written back
    * into the file, beside its other sections, so every later load
    * hashes ids to the same pseudonyms. The file goes through `dir`'s
    * `Store`: its Hadoop filesystem under the active session's conf.
    */
  def loadOrCreate(dir: String): Codebook = {
    val store = Store(dir)
    val path = store("codebook.json")
    if (store.fs.exists(path)) {
      val node = mapper.readTree(store.read(path))
      val legacy = scala.collection.mutable.Map[String, Map[String, String]]()
      // version-0 codebooks nest everything under "mrn":
      // {patient: {deid, encounter: {enc: {deid, …}}}} — migrate those
      // random UUIDs into the Patient/Encounter legacy maps, exactly the
      // ids the reference's CodebookDB._load_version0 keeps honoring
      Option(node.get("mrn")).filter(_.isObject).foreach { mrn =>
        val pats = scala.collection.mutable.Map[String, String]()
        val encs = scala.collection.mutable.Map[String, String]()
        mrn.fields().forEachRemaining { p =>
          Option(p.getValue.get("deid")).foreach(d =>
            pats(p.getKey) = d.asText())
          Option(p.getValue.get("encounter")).filter(_.isObject)
            .foreach(_.fields().forEachRemaining { e =>
              Option(e.getValue.get("deid")).foreach(d =>
                encs(e.getKey) = d.asText())
            })
        }
        if (pats.nonEmpty) legacy("Patient") = pats.toMap
        if (encs.nonEmpty) legacy("Encounter") = encs.toMap
      }
      // version-1 extra object sections are flat legacy per-type id maps
      node.fields().forEachRemaining { e =>
        if (e.getValue.isObject && e.getKey != "mrn") {
          val m = scala.collection.mutable.Map[String, String]()
          e.getValue.fields().forEachRemaining { f =>
            if (f.getValue.isTextual) m(f.getKey) = f.getValue.asText()
          }
          if (m.nonEmpty) legacy(e.getKey) = m.toMap
        }
      }
      // version 0 carried no salt; generate one like the migration does
      val salt = Option(node.get("id_salt")).map(_.asText()).getOrElse {
        val drawn = newSalt()
        node.asInstanceOf[ObjectNode].put("id_salt", drawn)
        write(store, path, node)
        drawn
      }
      Codebook(
        Option(node.get("codebook_id")).map(_.asText()).getOrElse(""),
        salt,
        legacy.toMap)
    } else {
      val cb = Codebook(UUID.randomUUID().toString, newSalt())
      val root = mapper.createObjectNode()
      root.put("version", 1)
      root.put("codebook_id", cb.codebookId)
      root.put("id_salt", cb.saltHex)
      write(store, path, root)
      cb
    }
  }

  private def newSalt(): String = {
    val bytes = new Array[Byte](32)
    new SecureRandom().nextBytes(bytes)
    bytes.map("%02x".format(_)).mkString
  }

  /** Replace `path` with `node` through a temp file and a rename
    * ([[Store.put]]), so a crash mid-write never leaves a truncated
    * codebook (its legacy maps are the only copy of those pseudonyms)
    * on the stores `GraftTable`'s doc names.
    */
  private def write(store: Store, path: Path, node: JsonNode): Unit =
    store.put(path, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(node))
}
