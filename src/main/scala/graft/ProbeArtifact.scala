package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The one writer of a probe artifact (a JSON object of keyed rows, plus
  * per-query rows under `"probes"`).
  *
  * A merging writer (a gated `SPARK_GRAFT_ONLY` run, or a main that adds
  * its rows to another main's sweep) sets each key in the existing file
  * as it is recorded and keeps every key it did not record: a partial run
  * must never clobber a full one. A missing file is reported and not
  * created. A full-sweep writer collects what it records, and [[write]]
  * replaces the file with every recorded key, `probes` last. */
final class ProbeArtifact(file: Path, merge: Boolean) {
  private val mapper = new ObjectMapper()
  private val keys = mutable.LinkedHashMap[String, JsonNode]()
  private val probes = mutable.LinkedHashMap[String, JsonNode]()

  /** Records `json` (any JSON value) under the top-level `key`. */
  def record(key: String, json: String): Unit =
    if (merge) mergeInto(key)(_.set[JsonNode](key, mapper.readTree(json)))
    else keys(key) = mapper.readTree(json)

  /** Records one per-query row under `"probes"`. */
  def recordProbe(name: String, json: String): Unit =
    if (merge) mergeInto(s"probes.$name")(_.withObjectProperty("probes")
      .set[JsonNode](name, mapper.readTree(json)))
    else probes(name) = mapper.readTree(json)

  /** The number at `key`.`field` in the file as it is now, if present. */
  def reference(key: String, field: String): Option[Long] =
    if (!Files.exists(file)) None
    else Some(mapper.readTree(Files.readString(file)).path(key).path(field))
      .filter(_.isNumber).map(_.asLong())

  /** Full sweep: writes every recorded key. A merging writer has already
    * written each key as it was recorded, so this does nothing for it. */
  def write(): Unit = if (!merge) {
    val root = mapper.createObjectNode()
    keys.foreach { case (k, v) => root.set[JsonNode](k, v) }
    if (probes.nonEmpty) {
      val p = root.putObject("probes")
      probes.foreach { case (k, v) => p.set[JsonNode](k, v) }
    }
    Files.writeString(file, mapper.writeValueAsString(root) + "\n")
    println(s"[probe] wrote ${keys.size} keys and ${probes.size} probes to $file")
  }

  private def mergeInto(what: String)(set: ObjectNode => Unit): Unit =
    if (!Files.exists(file))
      println(s"[probe] $file missing — $what not recorded (run the full probe first)")
    else {
      val root = mapper.readTree(Files.readString(file)).asInstanceOf[ObjectNode]
      set(root)
      Files.writeString(file, mapper.writeValueAsString(root) + "\n")
      println(s"[probe] merged $what into $file")
    }
}

object ProbeArtifact {
  /** `PROBE_LOCAL_<factor>x.json` in `SPARK_GRAFT_PROBE_OUT_DIR`, default
    * the working directory (the repo root, where the mains are run). */
  def forFactor(factor: Int, merge: Boolean): ProbeArtifact =
    new ProbeArtifact(Paths.get(sys.env.getOrElse("SPARK_GRAFT_PROBE_OUT_DIR", "."),
      s"PROBE_LOCAL_${factor}x.json"), merge)
}
