package graft.ops

import org.apache.spark.sql.{Encoders, SparkSession}

/** Configured-notifier registry — the `/api/notifiers` CRUD surface
  * (reference: viewer/apiNotifiers.js:130-448 getNotifiers /
  * createNotifier / updateNotifier / deleteNotifier / testNotifier;
  * provider catalogue notifiers/provider.notifme.js: Slack / Twilio /
  * Email with per-provider field definitions).
  *
  * Semantics carried over:
  *  - names sanitized to `[-a-zA-Z0-9_: ]` and globally unique;
  *  - the type must name a known provider and every `required` field
  *    needs a value (apiNotifiers.js:216-236);
  *  - mutation is admin-only; non-admin listings see only name+type,
  *    never the configured field values (the sensitive-field strip,
  *    apiNotifiers.js:138-151);
  *  - [[issueAlert]] resolves a stored name to a live [[Notifier]] and
  *    never fails the caller (apiNotifiers.js:30-povider dispatch);
  *    [[test]] sends the reference's literal "Test alert".
  *
  * The reference persists these on the `_moloch_shared` user document;
  * here they are their own tiny parquet table (same single-writer
  * whole-rewrite model as [[graft.query.Shortcuts]] — configuration,
  * not data). Transport: only the Slack incoming-webhook shape is plain
  * HTTP, so it maps to [[Notifier.Webhook]]; Twilio/Email transports
  * need credentials/SMTP unavailable in this sandbox and resolve to the
  * logging provider (the alert text still carries the provider name, so
  * delivery is observable in tests and logs).
  */
object NotifierStore {

  final case class FieldDef(name: String, required: Boolean)
  final case class ProviderType(name: String, fields: Seq[FieldDef])

  /** provider.notifme.js field catalogue. */
  val providerTypes: Seq[ProviderType] = Seq(
    ProviderType("slack", Seq(FieldDef("slackWebhookUrl", required = true))),
    ProviderType("twilio", Seq(
      FieldDef("accountSid", required = true),
      FieldDef("authToken", required = true),
      FieldDef("toNumber", required = true),
      FieldDef("fromNumber", required = true))),
    ProviderType("email", Seq(
      FieldDef("secure", required = false),
      FieldDef("host", required = true),
      FieldDef("port", required = true),
      FieldDef("user", required = false),
      FieldDef("password", required = false),
      FieldDef("from", required = true),
      FieldDef("to", required = true),
      FieldDef("subject", required = false))))

  final case class StoredNotifier(
      name: String,
      ntype: String,
      fieldNames: Seq[String],
      fieldValues: Seq[String],
      user: String = "",
      created: Long = 0L) {
    def fields: Map[String, String] = fieldNames.zip(fieldValues).toMap
  }

  def sanitizeName(name: String): String =
    name.replaceAll("[^-a-zA-Z0-9_: ]", "")

  def readAll(spark: SparkSession, path: String): Seq[StoredNotifier] =
    graft.model.TinyTable.read[StoredNotifier](spark, path)(
      Encoders.product[StoredNotifier])

  private def writeAll(spark: SparkSession, path: String,
      rows: Seq[StoredNotifier]): Unit =
    graft.model.TinyTable.write(spark, path, rows,
      "notifiers")(Encoders.product[StoredNotifier])

  private def validate(name: String, ntype: String,
      fields: Map[String, String]): Unit = {
    require(name.nonEmpty, "Missing a unique notifier name")
    val pt = providerTypes.find(_.name == ntype).getOrElse(
      throw new IllegalArgumentException("Unknown notifier type"))
    pt.fields.filter(_.required).foreach { f =>
      if (!fields.get(f.name).exists(_.nonEmpty))
        throw new IllegalArgumentException(s"Missing a value for ${f.name}")
    }
  }

  def create(spark: SparkSession, path: String, actorId: String,
      actorIsAdmin: Boolean, name: String, ntype: String,
      fields: Map[String, String], nowSec: Long): StoredNotifier = {
    if (!actorIsAdmin) throw new IllegalStateException("Need admin privileges")
    val clean = sanitizeName(name)
    validate(clean, ntype, fields)
    val all = readAll(spark, path)
    if (all.exists(_.name == clean))
      throw new IllegalArgumentException("Notifier already exists")
    val sn = StoredNotifier(clean, ntype, fields.keys.toSeq.sorted,
      fields.keys.toSeq.sorted.map(fields), actorId, nowSec)
    writeAll(spark, path, all :+ sn)
    sn
  }

  def update(spark: SparkSession, path: String, actorIsAdmin: Boolean,
      name: String, ntype: String,
      fields: Map[String, String]): StoredNotifier = {
    if (!actorIsAdmin) throw new IllegalStateException("Need admin privileges")
    val all = readAll(spark, path)
    val old = all.find(_.name == name).getOrElse(
      throw new NoSuchElementException("Cannot find notifier to update"))
    validate(name, ntype, fields)
    val sn = old.copy(ntype = ntype, fieldNames = fields.keys.toSeq.sorted,
      fieldValues = fields.keys.toSeq.sorted.map(fields))
    writeAll(spark, path, all.map(n => if (n.name == name) sn else n))
    sn
  }

  def delete(spark: SparkSession, path: String, actorIsAdmin: Boolean,
      name: String): Unit = {
    if (!actorIsAdmin) throw new IllegalStateException("Need admin privileges")
    val all = readAll(spark, path)
    if (!all.exists(_.name == name))
      throw new NoSuchElementException("Cannot find notifier to remove")
    writeAll(spark, path, all.filterNot(_.name == name))
  }

  /** Admins see full configs; everyone else only name+type
    * (apiNotifiers.js:138-151), created-order like the reference sort.
    */
  def list(spark: SparkSession, path: String,
      actorIsAdmin: Boolean): Seq[StoredNotifier] = {
    val all = readAll(spark, path).sortBy(n => (n.created, n.name))
    if (actorIsAdmin) all
    else all.map(n => n.copy(fieldNames = Nil, fieldValues = Nil,
      user = "", created = 0L))
  }

  /** Stored config → live provider. Slack's incoming webhook is the one
    * plain-HTTP transport; others log (sandbox stand-in), tagged with
    * the provider so delivery is observable.
    */
  def resolve(sn: StoredNotifier): Notifier = sn.ntype match {
    case "slack" => Notifier.Webhook(sn.fields.getOrElse("slackWebhookUrl", ""))
    case other => new Notifier {
      def notify(title: String, message: String): Unit =
        System.err.println(s"NOTIFY[$other:${sn.name}] [$title] $message")
    }
  }

  /** `issueAlert(name, message)`: unknown names and transport failures
    * never fail the triggering job (apiNotifiers.js:30-40).
    */
  def issueAlert(spark: SparkSession, path: String, name: String,
      title: String, message: String,
      resolver: StoredNotifier => Notifier = resolve): Boolean =
    readAll(spark, path).find(_.name == name) match {
      case Some(sn) =>
        try { resolver(sn).notify(title, message); true }
        catch { case _: Exception => false }
      case None => false
    }

  /** The whole registry as the name→provider map
    * [[graft.query.CronQueries.processOnce]] and hunt jobs consume.
    */
  def asMap(spark: SparkSession, path: String,
      resolver: StoredNotifier => Notifier = resolve): Map[String, Notifier] =
    readAll(spark, path).map(n => n.name -> resolver(n)).toMap

  /** POST /api/notifier/:name/test — the reference's literal alert. */
  def test(spark: SparkSession, path: String, name: String,
      resolver: StoredNotifier => Notifier = resolve): Boolean =
    issueAlert(spark, path, name, "Test alert", "Test alert", resolver)
}
