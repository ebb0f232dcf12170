package graft.sinks

import org.apache.spark.sql.{Dataset, SparkSession}

/** Schema-Registry client SEMANTICS (K2's resolution half), modeled
  * after the reference's Confluent client usage (ref darkpool_trades/
  * basic.py:87-110 and 136-157): a producer resolves the LATEST schema
  * for its topic once at construction — subjects are scanned for the
  * first one whose name starts with the topic, its latest version's
  * schema id goes into every framed message — and a registry-aware
  * consumer resolves the id embedded in each frame back to a schema
  * before deserializing (basic.py:229-239).
  *
  * The sandbox has no network, so the TRANSPORT (REST + basic auth,
  * basic.py:129-132 reads SCHEMA_REGISTRY_URL/AUTH_INFO from the
  * environment) is out of scope by design; what is modeled is the
  * resolution contract the pipeline depends on: subject→versions→id,
  * id→schema, topic-prefix subject matching, and the failure modes
  * (unknown topic, unknown id). Resolution happens DRIVER-SIDE, once
  * per stream — exactly like the reference's producer — so the id is a
  * plan-time constant and no per-row lookup ever ships to executors.
  */
trait SchemaRegistry {

  /** All registered subject names. */
  def subjects: Seq[String]

  /** Version numbers registered under a subject, ascending. */
  def versions(subject: String): Seq[Int]

  /** The newest registered schema under a subject.
    * @throws NoSuchElementException if the subject is unknown.
    */
  def latestVersion(subject: String): RegisteredSchema

  /** The schema text registered under a global schema id.
    * @throws NoSuchElementException if the id is unknown.
    */
  def schemaById(id: Int): String

  /** Every schema id this registry can resolve — the driver-side
    * snapshot [[SchemaRegistry.decodeFramedChecked]] ships to
    * executors so id validation rides the decode pass instead of
    * costing a second scan.
    */
  def knownIds: Set[Int]
}

/** One registered (subject, version) entry; `schemaId` is the GLOBAL
  * id the wire format embeds (ids are registry-wide, versions are
  * per-subject — the Confluent split the reference relies on).
  */
final case class RegisteredSchema(subject: String, version: Int,
                                  schemaId: Int, schema: String)

object SchemaRegistry {

  /** Topic → latest schema, with the reference's resolution rule
    * verbatim: the FIRST subject (registration order) whose name
    * starts with the topic wins — Confluent subjects are conventionally
    * `<topic>-value`/`<topic>-key`, which is why prefix matching is the
    * contract (ref basic.py:100-109).
    * @throws NoSuchElementException mirroring the reference's
    *   `ValueError: No schema found for topic` (basic.py:110).
    */
  def latestSchemaForTopic(registry: SchemaRegistry,
                           topic: String): RegisteredSchema =
    registry.subjects.find(_.startsWith(topic))
      .map(registry.latestVersion)
      .getOrElse(throw new NoSuchElementException(
        s"No schema found for topic: $topic"))

  /** Producer-shaped composition: resolve the topic's latest schema id
    * once (driver-side), then Avro-encode + Confluent-frame every
    * record with that id — the exact construction-time resolution the
    * reference producer does (basic.py:136-157 + main.py:19-39).
    */
  def encodeFramedLatest(ds: Dataset[AvroBinary.DarkpoolTrade],
                         registry: SchemaRegistry,
                         topic: String): Dataset[Array[Byte]] = {
    val resolved = latestSchemaForTopic(registry, topic)
    AvroBinary.encodeFramed(ds, resolved.schemaId)
  }

  /** Consumer-shaped composition: decode with every frame's embedded
    * id checked against a driver-side snapshot of the registry's known
    * ids — the snapshot rides the task closure (a handful of ints), so
    * validation costs nothing extra: ONE pass over the data, no second
    * scan, no per-row RPC. Unknown ids throw on first contact,
    * mirroring a consumer that cannot fetch the writer schema
    * (basic.py:229-239).
    */
  def decodeFramedChecked(spark: SparkSession,
                          framed: Dataset[Array[Byte]],
                          registry: SchemaRegistry): Dataset[AvroBinary.DarkpoolTrade] = {
    import spark.implicits._
    val known = registry.knownIds // resolved ONCE, driver-side
    framed.map { bytes =>
      val id = ConfluentFraming.parseHeader(bytes)
      if (!known.contains(id))
        throw new NoSuchElementException(s"Unknown schema id: $id")
      AvroBinary.decode(bytes.drop(5))
    }
  }
}

/** In-memory registry: `register` assigns CONTENT-global schema ids
  * (the same schema text under any number of subjects shares one id —
  * new ids are handed out monotonically only for new schema text) and
  * per-subject version numbers — the Confluent id/version split.
  * Same-(subject, schema) re-registration returns the existing entry
  * (Confluent idempotency) instead of burning a new version.
  */
final class InMemorySchemaRegistry extends SchemaRegistry {
  private var entries = Vector.empty[RegisteredSchema]
  private var nextId = 1

  def register(subject: String, schema: String): RegisteredSchema =
    synchronized {
      entries.find(e => e.subject == subject && e.schema == schema)
        .getOrElse {
          val version = versions(subject).lastOption.getOrElse(0) + 1
          // Confluent schema ids are CONTENT-global: the same schema
          // text registered under a second subject reuses the existing
          // id — only the per-subject version is new (ADVICE r6; a
          // fresh id per (subject, schema) was a fidelity gap)
          val id = entries.find(_.schema == schema).map(_.schemaId)
            .getOrElse { val i = nextId; nextId += 1; i }
          val e = RegisteredSchema(subject, version, id, schema)
          entries :+= e
          e
        }
    }

  def subjects: Seq[String] =
    synchronized(entries.map(_.subject).distinct)

  def versions(subject: String): Seq[Int] =
    synchronized(entries.filter(_.subject == subject).map(_.version).sorted)

  def latestVersion(subject: String): RegisteredSchema =
    synchronized {
      val subjectEntries = entries.filter(_.subject == subject)
      if (subjectEntries.isEmpty)
        throw new NoSuchElementException(s"Unknown subject: $subject")
      subjectEntries.maxBy(_.version)
    }

  def schemaById(id: Int): String =
    synchronized {
      entries.find(_.schemaId == id)
        .getOrElse(throw new NoSuchElementException(s"Unknown schema id: $id"))
        .schema
    }

  def knownIds: Set[Int] =
    synchronized(entries.map(_.schemaId).toSet)
}
