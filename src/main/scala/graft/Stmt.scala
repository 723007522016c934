package graft

/** What a statement is, decided once from its head, as the reference's
  * parsed statement type picks both the executor path
  * (`backend/executor.go:73-128`) and the wire tag (`pgserver/stmt.go`).
  * The head is the first word and the object word after it, read from
  * quote- and comment-masked text; the object word skips `OR REPLACE`,
  * `TEMP[ORARY]` and `UNIQUE`. A leading `(` reads as a query. Words
  * are upper-cased; an absent one is "".
  */
sealed trait Stmt {
  def kw: String
  def kw2: String
  def head: String = if (kw2.isEmpty) kw else s"$kw $kw2"
  /** The PG-convention wire command tag. */
  def tag: String = this match {
    case Stmt.Query("EXPLAIN", _) => "EXPLAIN"
    case _: Stmt.Query => "SELECT"
    case Stmt.Dml("REPLACE", _) => "INSERT"
    case Stmt.Dml("TRUNCATE", _) => "TRUNCATE TABLE"
    case Stmt.Ddl("RENAME", _) => "RENAME TABLE"
    case Stmt.Ddl("CREATE" | "DROP" | "ALTER", _) => head
    case Stmt.Session("DESCRIBE" | "DESC", _) => "SHOW"
    case Stmt.Txn("START", _) => "BEGIN"
    case Stmt.Replication(k, _) if k != "SHOW" => head
    case _ => kw
  }
}

object Stmt {
  final case class Query(kw: String, kw2: String) extends Stmt
  final case class Dml(kw: String, kw2: String) extends Stmt
  final case class Ddl(kw: String, kw2: String) extends Stmt
  final case class Session(kw: String, kw2: String) extends Stmt
  final case class Txn(kw: String, kw2: String) extends Stmt
  final case class Bulk(kw: String, kw2: String) extends Stmt
  final case class Replication(kw: String, kw2: String) extends Stmt
  /** Everything else: Catalyst's alone. */
  final case class Other(kw: String) extends Stmt { def kw2: String = "" }

  /** Head words come from this prefix only, so a multi-megabyte dump
    * INSERT is never masked whole to read two words. */
  private val HeadSpan = 1024
  private val Head = ("""(?i)\s*(?:(\()|([A-Za-z_]\w*)""" +
    """(?:\s+(?:(?:OR|REPLACE|TEMP|TEMPORARY|UNIQUE)\s+)*([A-Za-z_]\w*))?)""").r

  def of(text: String): Stmt =
    Head.findPrefixMatchOf(SqlText.mask(text.take(HeadSpan))) match {
      case Some(m) if m.group(1) != null => Query("(", "")
      case Some(m) =>
        family(upper(m.group(2)), Option(m.group(3)).fold("")(upper))
      case None => Other("")
    }

  private def upper(w: String): String = w.toUpperCase(java.util.Locale.ROOT)

  private def family(kw: String, kw2: String): Stmt = (kw, kw2) match {
    case ("SELECT" | "WITH" | "TABLE" | "VALUES" | "EXPLAIN", _) => Query(kw, kw2)
    case ("INSERT" | "REPLACE" | "UPDATE" | "DELETE" | "TRUNCATE", _) => Dml(kw, kw2)
    case ("START" | "STOP" | "RESET", "REPLICA" | "SLAVE") |
         ("SHOW", "REPLICA" | "SLAVE" | "SUBSCRIPTIONS") |
         ("CREATE" | "ALTER" | "DROP", "SUBSCRIPTION") |
         ("CHANGE", "REPLICATION" | "MASTER") => Replication(kw, kw2)
    case ("BEGIN" | "START" | "COMMIT" | "ROLLBACK" | "SAVEPOINT" | "RELEASE" |
          "LOCK" | "UNLOCK", _) => Txn(kw, kw2)
    case ("SET" | "SHOW" | "DESCRIBE" | "DESC" | "USE" | "RESET" | "DISCARD" |
          "PREPARE" | "EXECUTE" | "DEALLOCATE" | "FLUSH" | "KILL", _) => Session(kw, kw2)
    case ("CREATE" | "DROP" | "ALTER" | "RENAME" | "GRANT" | "REVOKE" |
          "COMMENT", _) => Ddl(kw, kw2)
    case ("COPY" | "LOAD" | "BACKUP" | "RESTORE" | "OPTIMIZE" | "VACUUM" |
          "ANALYZE" | "CHECK" | "CHECKSUM", _) => Bulk(kw, kw2)
    case _ => Other(kw)
  }
}
