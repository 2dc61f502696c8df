package graft.query

import org.apache.spark.sql.{Encoders, SparkSession}

/** Persisted query shortcuts — the viewer's lookups CRUD
  * (reference: viewer/apiShortcuts.js:60-400 getShortcuts /
  * createShortcut / updateShortcut / deleteShortcut; the stored object
  * is `{userId, name, description, shared, locked, ip|string|number}`
  * with exactly one typed value list, apiShortcuts.js:47-58).
  *
  * Semantics carried over:
  *  - names are sanitized to `[-a-zA-Z0-9_]` and globally unique
  *    (create/update collision check, apiShortcuts.js:223-233);
  *  - visibility is own-or-shared (the getShortcuts bool/should on
  *    `shared:true || userId:me`, apiShortcuts.js:84-98);
  *  - update/delete require owner or admin, and `locked` shortcuts
  *    refuse UI updates (apiShortcuts.js:269-400);
  *  - [[forUser]] is the `Db.getShortcutsCache(creator)` analogue — the
  *    name→values map handed to the expression compiler so `$name`
  *    resolves per user (viewer.js:2361-2369 cron path, Q14).
  *
  * Storage is a single parquet table rewritten whole on every mutation:
  * shortcuts are configuration (thousands of rows at most), not data —
  * the table never grows with the 100 TB session store, so a full
  * rewrite is one small task and the read side is a broadcast-sized
  * scan. Single-writer, like the reference's shortcutMutex.
  */
object Shortcuts {

  final case class Shortcut(
      id: String,
      userId: String,
      name: String,
      description: String = "",
      shared: Boolean = false,
      locked: Boolean = false,
      kind: String = "string", // "string" | "ip" | "number"
      values: Seq[String] = Nil)

  /** Reference name sanitation: `req.body.name.replace(/[^-a-zA-Z0-9_]/g, '')`. */
  def sanitizeName(name: String): String =
    name.replaceAll("[^-a-zA-Z0-9_]", "")

  /** `ViewerUtils.commaStringToArray`: comma/newline separated values,
    * trimmed, empties dropped.
    */
  def splitValues(value: String): Seq[String] =
    value.split("[,\n]").toSeq.map(_.trim).filter(_.nonEmpty)

  def readAll(spark: SparkSession, path: String): Seq[Shortcut] =
    graft.model.TinyTable.read[Shortcut](spark, path)(
      Encoders.product[Shortcut])

  private def writeAll(spark: SparkSession, path: String,
      rows: Seq[Shortcut]): Unit =
    graft.model.TinyTable.write(spark, path, rows,
      "shortcuts")(Encoders.product[Shortcut])

  /** Create; returns the stored shortcut (id = sanitized name — names are
    * globally unique so the name IS a stable id).
    */
  def create(spark: SparkSession, path: String, userId: String,
      name: String, kind: String, value: String,
      description: String = "", shared: Boolean = false,
      locked: Boolean = false): Shortcut = {
    require(Set("string", "ip", "number")(kind), s"bad shortcut type $kind")
    val clean = sanitizeName(name)
    require(clean.nonEmpty, "Missing shortcut name")
    val values = splitValues(value)
    require(values.nonEmpty, "Missing shortcut value")
    val all = readAll(spark, path)
    // ids are the ORIGINAL sanitized name and survive renames, so a
    // freed name may still be live as another shortcut's id — creating
    // it would mint two rows with one id and corrupt later update/delete
    if (all.exists(s => s.name == clean || s.id == clean))
      throw new IllegalArgumentException(
        s"A shortcut with the name, $clean, already exists")
    val sc = Shortcut(clean, userId, clean, description, shared, locked,
      kind, values)
    writeAll(spark, path, all :+ sc)
    sc
  }

  /** Update by id: owner-or-admin, locked refuses (the db.pl-only path,
    * apiShortcuts.js:290-300), rename collision checked against others.
    */
  def update(spark: SparkSession, path: String, userId: String,
      isAdmin: Boolean, id: String, name: String, kind: String,
      value: String, description: String = "",
      shared: Boolean = false): Shortcut = {
    require(Set("string", "ip", "number")(kind), s"bad shortcut type $kind")
    val all = readAll(spark, path)
    val old = all.find(_.id == id).getOrElse(
      throw new NoSuchElementException(s"Fetching shortcut to update failed"))
    if (old.locked)
      throw new IllegalStateException(
        "Locked shortcuts cannot be updated here; use the db script")
    if (old.userId != userId && !isAdmin)
      throw new IllegalStateException("Permission denied")
    val clean = sanitizeName(name)
    require(clean.nonEmpty, "Missing shortcut name")
    if (all.exists(s => s.id != id && s.name == clean))
      throw new IllegalArgumentException(
        s"A shortcut with the name, $clean, already exists")
    val values = splitValues(value)
    require(values.nonEmpty, "Missing shortcut value")
    val sc = old.copy(name = clean, description = description,
      shared = shared, kind = kind, values = values)
    writeAll(spark, path, all.map(s => if (s.id == id) sc else s))
    sc
  }

  /** Delete by id: owner-or-admin. */
  def delete(spark: SparkSession, path: String, userId: String,
      isAdmin: Boolean, id: String): Unit = {
    val all = readAll(spark, path)
    val old = all.find(_.id == id).getOrElse(
      throw new NoSuchElementException(s"Fetching shortcut to delete failed"))
    if (old.userId != userId && !isAdmin)
      throw new IllegalStateException("Permission denied")
    writeAll(spark, path, all.filterNot(_.id == id))
  }

  /** Own-or-shared listing with the GET /api/shortcuts filters:
    * substring search on name, type filter, name-sorted.
    */
  def list(spark: SparkSession, path: String, userId: String,
      searchTerm: Option[String] = None,
      fieldType: Option[String] = None): Seq[Shortcut] =
    readAll(spark, path)
      .filter(s => s.shared || s.userId == userId)
      .filter(s => searchTerm.forall(t =>
        s.name.toLowerCase.contains(t.toLowerCase)))
      .filter(s => fieldType.forall(_ == s.kind))
      .sortBy(_.name)

  /** The `getShortcutsCache` analogue: name → values for every shortcut
    * visible to `userId`, in the shape [[graft.expr.Compiler]] takes.
    */
  def forUser(spark: SparkSession, path: String,
      userId: String): Map[String, Seq[String]] =
    list(spark, path, userId).map(s => s.name -> s.values).toMap
}
