package graft.model

/** Runtime configuration — env parity with the reference's Pydantic
  * settings (`src/config.py:22-93`): same variable names, same defaults,
  * same Docker-secret `*_PASSWORD_FILE` override (`src/config.py:9-14,
  * 33-42,56-65`), same comma-separated table-list parsing
  * (`src/config.py:84-87`).
  */
final case class SourceConfig(
    host: String = "localhost",
    port: Int = 3306,
    user: String = "root",
    password: String = "",
    database: String = "")

final case class TargetConfig(
    host: String = "localhost",
    port: Int = 8123,
    user: String = "default",
    password: String = "",
    database: String = "")

final case class ReplicationConfig(
    mode: String = "snapshot",              // "snapshot" | "cdc" (src/config.py:17-19)
    tables: Seq[String] = Seq.empty,        // empty = all tables
    batchSize: Int = 50000,                 // src/config.py:72
    // src/config.py:75; unset = as many as the session has task slots
    parallelTables: Option[Int] = None)

final case class GraftConfig(
    source: SourceConfig,
    target: TargetConfig,
    replication: ReplicationConfig)

object GraftConfig {

  /** Password resolution: `*_PASSWORD_FILE` (Docker secret) wins over
    * `*_PASSWORD` (`src/config.py:9-14`). */
  private def password(env: Map[String, String], prefix: String): String =
    env.get(s"${prefix}_PASSWORD_FILE")
      .flatMap { p =>
        val f = new java.io.File(p)
        if (f.isFile) Some(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim)
        else None
      }
      .orElse(env.get(s"${prefix}_PASSWORD"))
      .getOrElse("")

  /** Comma-split + trim, empties dropped (`src/config.py:84-87`). */
  def parseTableList(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  def fromEnv(env: Map[String, String] = sys.env): GraftConfig = {
    def get(k: String, d: String) = env.getOrElse(k, d)
    val mode = get("REPLICATION_MODE", "snapshot").toLowerCase
    require(mode == "snapshot" || mode == "cdc", s"Unknown mode: $mode")
    GraftConfig(
      SourceConfig(
        host = get("MYSQL_HOST", "localhost"),
        port = get("MYSQL_PORT", "3306").toInt,
        user = get("MYSQL_USER", "root"),
        password = password(env, "MYSQL"),
        database = get("MYSQL_DATABASE", "")),
      TargetConfig(
        host = get("CLICKHOUSE_HOST", "localhost"),
        port = get("CLICKHOUSE_PORT", "8123").toInt,
        user = get("CLICKHOUSE_USER", "default"),
        password = password(env, "CLICKHOUSE"),
        database = get("CLICKHOUSE_DATABASE", "")),
      ReplicationConfig(
        mode = mode,
        tables = parseTableList(get("REPLICATION_TABLES", "")),
        batchSize = get("REPLICATION_BATCH_SIZE", "50000").toInt,
        parallelTables = env.get("REPLICATION_PARALLEL_TABLES").map(_.toInt)))
  }
}
