package graft.query

import org.apache.spark.sql.{Encoders, SparkSession}

/** Persisted saved views — the `/api/user/views` surface (reference:
  * viewer/apiUsers.js:651-860 getUserViews / createUserView /
  * deleteUserView / updateUserView / toggleShareView; shared views live
  * on the `_moloch_shared` user document, apiUsers.js:10-45).
  *
  * Semantics carried over:
  *  - a view is `{name, expression}` owned by a user, optionally shared
  *    cluster-wide;
  *  - names sanitized to `[-a-zA-Z0-9_: ]`; duplicates rejected within
  *    the owner's scope (own views) or among shared views;
  *  - the per-user resolution the parser sees merges shared views under
  *    the user's own — an own non-shared view of the same name wins
  *    (apiUsers.js:666-674);
  *  - deleting or un-sharing a shared view needs admin or the creator
  *    (apiUsers.js:767);
  *  - [[toggleShare]] moves a view between the own and shared scopes.
  *
  * [[forUser]] feeds [[graft.expr.Compiler]]'s `views` map — the Q15
  * `view == name` recursion resolves against exactly this merge.
  * Storage model identical to [[Shortcuts]]: configuration-sized
  * parquet, whole-rewrite per mutation, single writer.
  */
object ViewsStore {

  final case class View(
      name: String,
      expression: String,
      userId: String,
      shared: Boolean = false)

  def sanitizeName(name: String): String =
    name.replaceAll("[^-a-zA-Z0-9_: ]", "")

  def readAll(spark: SparkSession, path: String): Seq[View] =
    graft.model.TinyTable.read[View](spark, path)(Encoders.product[View])

  private def writeAll(spark: SparkSession, path: String,
      rows: Seq[View]): Unit =
    graft.model.TinyTable.write(spark, path, rows,
      "views")(Encoders.product[View])

  private def dup(all: Seq[View], v: View): Boolean =
    if (v.shared) all.exists(x => x.shared && x.name == v.name)
    else all.exists(x => !x.shared && x.userId == v.userId && x.name == v.name)

  def create(spark: SparkSession, path: String, userId: String,
      name: String, expression: String,
      shared: Boolean = false): View = {
    val clean = sanitizeName(name)
    require(clean.nonEmpty, "Missing view name")
    require(expression.trim.nonEmpty, "Missing view expression")
    val all = readAll(spark, path)
    val v = View(clean, expression, userId, shared)
    if (dup(all, v))
      throw new IllegalArgumentException(s"A view named $clean already exists")
    writeAll(spark, path, all :+ v)
    v
  }

  /** Update own view, or a shared view as admin/creator. */
  def update(spark: SparkSession, path: String, actorId: String,
      actorIsAdmin: Boolean, name: String, shared: Boolean,
      newExpression: String): View = {
    val all = readAll(spark, path)
    val old = find(all, actorId, actorIsAdmin, name, shared)
    val v = old.copy(expression = newExpression)
    writeAll(spark, path, all.map(x => if (x eq old) v else x))
    v
  }

  def delete(spark: SparkSession, path: String, actorId: String,
      actorIsAdmin: Boolean, name: String, shared: Boolean): Unit = {
    val all = readAll(spark, path)
    val old = find(all, actorId, actorIsAdmin, name, shared)
    writeAll(spark, path, all.filterNot(_ eq old))
  }

  /** Move a view between the own and shared scopes
    * (apiUsers.js:810-860): sharing checks the shared namespace for a
    * collision; un-sharing needs admin or the creator.
    */
  def toggleShare(spark: SparkSession, path: String, actorId: String,
      actorIsAdmin: Boolean, name: String, share: Boolean): View = {
    val all = readAll(spark, path)
    val old = find(all, actorId, actorIsAdmin, name, shared = !share)
    val moved = old.copy(shared = share)
    if (dup(all.filterNot(_ eq old), moved))
      throw new IllegalArgumentException(
        s"A view named $name already exists in the target scope")
    writeAll(spark, path, all.map(x => if (x eq old) moved else x))
    moved
  }

  private def find(all: Seq[View], actorId: String, actorIsAdmin: Boolean,
      name: String, shared: Boolean): View = {
    val v =
      if (shared) all.find(x => x.shared && x.name == name)
      else all.find(x => !x.shared && x.userId == actorId && x.name == name)
    val old = v.getOrElse(
      throw new NoSuchElementException(s"View $name not found"))
    if (old.shared && !actorIsAdmin && old.userId != actorId)
      throw new IllegalStateException("Permission denied")
    old
  }

  /** getUserViews merge (apiUsers.js:657-676): shared views under the
    * user's own; an own view keeps its name on collision.
    */
  def forUser(spark: SparkSession, path: String,
      userId: String): Map[String, String] = {
    val all = readAll(spark, path)
    val sharedViews = all.filter(_.shared).map(v => v.name -> v.expression)
    val own = all.filter(v => !v.shared && v.userId == userId)
      .map(v => v.name -> v.expression)
    (sharedViews.toMap ++ own.toMap) // own wins on name collision
  }
}
