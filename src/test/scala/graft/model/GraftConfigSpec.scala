package graft.model

import org.scalatest.funsuite.AnyFunSuite

/** Config parity with reference `tests/test_replicator.py:195-227` +
  * secrets handling (`src/config.py:9-14`). */
class GraftConfigSpec extends AnyFunSuite with graft.GateCacheHygiene {

  test("defaults match the reference (src/config.py:22-93)") {
    val c = GraftConfig.fromEnv(Map.empty)
    assert(c.replication.mode == "snapshot")
    assert(c.replication.batchSize == 50000)
    assert(c.replication.parallelTables.isEmpty) // the session's width
    assert(c.replication.tables.isEmpty)
    assert(c.source.port == 3306 && c.target.port == 8123)
  }

  test("table list: comma-split + trim, empties dropped (src/config.py:84-87)") {
    assert(GraftConfig.parseTableList(" a, b ,c,,") == Seq("a", "b", "c"))
    assert(GraftConfig.parseTableList("") == Seq.empty)
  }

  test("env overrides and mode validation") {
    val c = GraftConfig.fromEnv(Map(
      "REPLICATION_MODE" -> "cdc",
      "REPLICATION_TABLES" -> "users,orders",
      "REPLICATION_BATCH_SIZE" -> "1000",
      "REPLICATION_PARALLEL_TABLES" -> "4",
      "MYSQL_HOST" -> "db1", "MYSQL_DATABASE" -> "app"))
    assert(c.replication.mode == "cdc")
    assert(c.replication.tables == Seq("users", "orders"))
    assert(c.replication.batchSize == 1000)
    assert(c.replication.parallelTables.contains(4))
    assert(c.source.host == "db1" && c.source.database == "app")
    intercept[IllegalArgumentException] {
      GraftConfig.fromEnv(Map("REPLICATION_MODE" -> "bogus"))
    }
  }

  test("password file (Docker secret) wins over env password") {
    val f = java.nio.file.Files.createTempFile("pw", ".txt")
    java.nio.file.Files.writeString(f, "secret-from-file\n")
    val c = GraftConfig.fromEnv(Map(
      "MYSQL_PASSWORD" -> "plain",
      "MYSQL_PASSWORD_FILE" -> f.toString))
    assert(c.source.password == "secret-from-file")
    val c2 = GraftConfig.fromEnv(Map("MYSQL_PASSWORD" -> "plain"))
    assert(c2.source.password == "plain")
  }
}
