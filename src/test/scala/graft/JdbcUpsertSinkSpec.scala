package graft

import java.sql.DriverManager

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.JdbcUpsertSink

/** Exactly-once-per-key semantics of the foreachPartition MERGE writer
  * under (a) repeat upserts, (b) a replayed partition — Spark's task-retry
  * model re-runs the whole partition iterator — and (c) a task that died
  * mid-partition AFTER committing a batch, then got retried.
  */
class JdbcUpsertSinkSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // One FILE-BACKED DB per test: Derby's in-memory storage factory has a
  // known race class under concurrent batch work (NPE in
  // BaseContainerHandle.deleteObserver, seen once in a loaded parallel
  // run); the directory-backed store does not. Each test gets a fresh
  // temp dir, so there is no cross-test contention either. The suite also
  // runs in its own forked JVM (build.sbt testGrouping).
  private var url: String = _

  private def withTable[A](ddlCols: String)(f: String => A): A = {
    val dbDir = TestSpark.tempDir("graft-derby-").resolve("db")
    url = s"jdbc:derby:${dbDir.toAbsolutePath};create=true"
    val table = "t" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val conn = DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(s"CREATE TABLE $table ($ddlCols)")
      f(table)
    } finally conn.close()
  }

  private def readAll(table: String): Seq[(Long, String, Long)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement()
        .executeQuery(s"SELECT k, name, score FROM $table ORDER BY k")
      val buf = Seq.newBuilder[(Long, String, Long)]
      while (rs.next()) buf += ((rs.getLong(1), rs.getString(2), rs.getLong(3)))
      buf.result()
    } finally conn.close()
  }

  private val ddl = "k BIGINT PRIMARY KEY, name VARCHAR(64), score BIGINT"

  test("upsert: insert then merge-update, no duplicate keys, partition-parallel") {
    withTable(ddl) { table =>
      val v1 = (1L to 40L).map(i => (i, s"user$i", i * 10)).toDF("k", "name", "score")
        .repartition(8, $"k")
      JdbcUpsertSink.upsert(v1, url, table, Seq("k"), batchSize = 7)
      assert(readAll(table) == (1L to 40L).map(i => (i, s"user$i", i * 10)))

      // Second wave: half the keys re-land with new scores + 5 new keys.
      val v2 = ((1L to 20L).map(i => (i, s"user$i", i * 10 + 1)) ++
        (41L to 45L).map(i => (i, s"user$i", i * 10))).toDF("k", "name", "score")
        .repartition(8, $"k")
      JdbcUpsertSink.upsert(v2, url, table, Seq("k"), batchSize = 7)
      val expect = (1L to 45L).map(i =>
        (i, s"user$i", if (i <= 20) i * 10 + 1 else i * 10))
      assert(readAll(table) == expect)
    }
  }

  test("replayed partition (task retry) leaves state unchanged") {
    withTable(ddl) { table =>
      val rows = (1L to 10L).map(i => Row(i, s"user$i", i * 10))
      val cols = Seq("k", "name", "score")
      val sql = JdbcUpsertSink.mergeSql(table, cols, Seq("k"))
      JdbcUpsertSink.writePartition(rows.iterator, url, sql, cols, Seq("k"), 3)
      val after1 = readAll(table)
      // Retry = identical iterator, from the top.
      JdbcUpsertSink.writePartition(rows.iterator, url, sql, cols, Seq("k"), 3)
      assert(readAll(table) == after1)
      assert(after1 == (1L to 10L).map(i => (i, s"user$i", i * 10)))
    }
  }

  test("mid-partition death after a committed batch + retry = exactly once per key") {
    withTable(ddl) { table =>
      val rows = (1L to 10L).map(i => Row(i, s"user$i", i * 10))
      val cols = Seq("k", "name", "score")
      val sql = JdbcUpsertSink.mergeSql(table, cols, Seq("k"))
      // First attempt dies on row 5 — after batch (1,2,3) already committed.
      val dying = rows.iterator.zipWithIndex.map { case (r, i) =>
        if (i == 4) throw new RuntimeException("executor lost") else r
      }
      intercept[RuntimeException] {
        JdbcUpsertSink.writePartition(dying, url, sql, cols, Seq("k"), 3)
      }
      assert(readAll(table).size >= 3) // partial state visible, as on a real store
      // Spark reschedules the task: full iterator again.
      JdbcUpsertSink.writePartition(rows.iterator, url, sql, cols, Seq("k"), 3)
      assert(readAll(table) == (1L to 10L).map(i => (i, s"user$i", i * 10)))
    }
  }

  test("store-side failure surfaces the PRIMARY error, not the close-time mask") {
    // A NOT NULL violation inside executeBatch leaves the transaction
    // open; before the rollback-in-finally fix, Derby's close() then threw
    // "Cannot close a connection while a transaction is still active",
    // replacing the real error in the task log (seen live on q72). The
    // thrown exception must be the constraint violation, and the
    // connection must come back usable for the retried task.
    withTable(ddl + ", NOT_NULL_COL BIGINT NOT NULL") { table =>
      val cols = Seq("k", "name", "score", "not_null_col")
      val sql = JdbcUpsertSink.mergeSql(table, cols, Seq("k"))
      val bad = Seq(Row(1L, "a", 1L, null))
      val e = intercept[java.sql.SQLException] {
        JdbcUpsertSink.writePartition(bad.iterator, url, sql, cols, Seq("k"), 10)
      }
      def states(t: Throwable): Seq[String] = Option(t) match {
        case Some(s: java.sql.SQLException) =>
          Option(s.getSQLState).toSeq ++ states(s.getNextException) ++ states(s.getCause)
        case Some(t2) => states(t2.getCause)
        case None => Nil
      }
      // 23502 = NOT NULL violation; XJ058 would be the close-time mask
      assert(states(e).contains("23502"), s"masked error: $e / states=${states(e)}")
      assert(!states(e).contains("XJ058"))
      // retry path: same DB, good rows, clean write
      val good = Seq(Row(1L, "a", 1L, 5L))
      JdbcUpsertSink.writePartition(good.iterator, url, sql, cols, Seq("k"), 10)
      assert(readAll(table) == Seq((1L, "a", 1L)))
    }
  }

  test("all-key rows (pure set membership) degrade to insert-if-absent") {
    withTable("k BIGINT, name VARCHAR(64), PRIMARY KEY (k, name)") { table =>
      val cols = Seq("k", "name")
      val sql = JdbcUpsertSink.mergeSql(table, cols, cols)
      assert(!sql.contains("WHEN MATCHED")) // no non-key cols to update
      val rows = Seq(Row(1L, "a"), Row(2L, "b"))
      JdbcUpsertSink.writePartition(rows.iterator, url, sql, cols, cols, 10)
      JdbcUpsertSink.writePartition(rows.iterator, url, sql, cols, cols, 10)
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(s"SELECT count(*) FROM $table")
        rs.next(); assert(rs.getLong(1) == 2L)
      } finally conn.close()
    }
  }

  test("zero-update-count strictness gates per driver, override wins") {
    // The silent-row-loss repair ("a key-MERGE affects exactly one row,
    // 0 means the store dropped it") is DERBY's observed contract; other
    // stores legitimately report 0 for no-op updates, where strict mode
    // would retry and then fail an honest batch.
    assert(JdbcUpsertSink.strictCountsFor("jdbc:derby:/tmp/db;create=true", None))
    assert(JdbcUpsertSink.strictCountsFor("JDBC:DERBY:memory:db", None))
    assert(!JdbcUpsertSink.strictCountsFor("jdbc:postgresql://h/db", None))
    assert(!JdbcUpsertSink.strictCountsFor("jdbc:mysql://h/db", None))
    // explicit override beats URL detection in both directions
    assert(JdbcUpsertSink.strictCountsFor("jdbc:postgresql://h/db", Some(true)))
    assert(!JdbcUpsertSink.strictCountsFor("jdbc:derby:memory:db", Some(false)))
  }

  test("concurrent writers into one Derby DB stay exactly-once per key") {
    // Regression net for the concurrent-MERGE race family (NPEs, latch
    // deadlock, silent loss, and the sf0.1 duplicate-past-the-PK where
    // the silent-loss repair re-inserted a base row whose index entry the
    // race had dropped). The sink now serializes Derby's execute+commit
    // window per database; this drives 8 threads of interleaved,
    // overlapping-key batches straight through writePartition — the same
    // call a 4-task repartitioned foreachBatch makes — and demands the
    // final table is exactly the key set, no duplicates, latest values.
    withTable(ddl) { table =>
      val sql = JdbcUpsertSink.mergeSql(table,
        Seq("k", "name", "score"), Seq("k"))
      val nThreads = 8
      val keysPerThread = 400
      val threads = (0 until nThreads).map { t =>
        new Thread(() => {
          // every thread upserts ALL keys (maximal overlap), values
          // distinguish the writer; small batches maximize interleaving
          val rows = (0 until keysPerThread).iterator.map(k =>
            Row(k.toLong, s"w$t", (t * 10000 + k).toLong))
          JdbcUpsertSink.writePartition(rows, url, sql,
            Seq("k", "name", "score"), Seq("k"), batchSize = 37)
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val got = readAll(table)
      assert(got.size == keysPerThread,
        s"expected $keysPerThread rows, got ${got.size} — " +
          "duplicate or lost keys under concurrent MERGE")
      assert(got.map(_._1) == (0 until keysPerThread).map(_.toLong),
        "key set damaged under concurrent MERGE")
      // every surviving value must be SOME writer's value for that key
      got.foreach { case (k, name, score) =>
        val t = name.stripPrefix("w").toInt
        assert(score == t * 10000L + k, s"torn row at k=$k: ($name, $score)")
      }
    }
  }

  test("derby exec-lock key canonicalizes case and ;attribute tails (r11 ADVICE)") {
    // Aliased URLs for the SAME embedded database must share one monitor,
    // or the concurrent-MERGE race re-enters through the alias.
    import graft.sinks.JdbcUpsertSink.derbyLockKey
    assert(derbyLockKey("jdbc:derby:memory:db;create=true") ===
      derbyLockKey("jdbc:derby:memory:db"))
    assert(derbyLockKey("JDBC:DERBY:Memory:DB;create=true") ===
      derbyLockKey("jdbc:derby:memory:db;collation=TERRITORY_BASED"))
    // different databases must NOT collapse to one lock
    assert(derbyLockKey("jdbc:derby:memory:db1") !==
      derbyLockKey("jdbc:derby:memory:db2"))
  }

  test("upsertSharded: deterministic shards, no key in two stores, idempotent") {
    // The sharded serving store (q72's r16 fix): every key must land in
    // exactly one of the N stores, the SAME one on every wave (the
    // key→shard map is pure), the union must equal the logical upsert
    // result, and re-running a wave must change nothing.
    val nShards = 4
    val root = TestSpark.tempDir("graft-derby-sh-")
    val urls = (0 until nShards).map(i =>
      s"jdbc:derby:${root.resolve(s"s$i").toAbsolutePath};create=true")
    val table = "tsh"
    urls.foreach { u =>
      val c = DriverManager.getConnection(u)
      try c.createStatement().executeUpdate(s"CREATE TABLE $table ($ddl)")
      finally c.close()
    }
    def readShard(u: String): Seq[(Long, String, Long)] = {
      val c = DriverManager.getConnection(u)
      try {
        val rs = c.createStatement()
          .executeQuery(s"SELECT k, name, score FROM $table ORDER BY k")
        val buf = Seq.newBuilder[(Long, String, Long)]
        while (rs.next()) buf += ((rs.getLong(1), rs.getString(2), rs.getLong(3)))
        buf.result()
      } finally c.close()
    }
    val v1 = (1L to 60L).map(i => (i, s"user$i", i * 10)).toDF("k", "name", "score")
    JdbcUpsertSink.upsertSharded(v1, nShards, urls(_), table, Seq("k"), batchSize = 7)
    val byShard1 = urls.map(readShard)
    // partition of the keyspace: disjoint, covering
    assert(byShard1.flatMap(_.map(_._1)).sorted == (1L to 60L))
    assert(byShard1.count(_.nonEmpty) > 1, "sharding never spread the keys")
    // wave 2: overlapping keys with new scores + new keys — updated rows
    // must land in the SAME shard as wave 1 (deterministic key→shard)
    val v2 = ((1L to 30L).map(i => (i, s"user$i", i * 10 + 1)) ++
      (61L to 70L).map(i => (i, s"user$i", i * 10))).toDF("k", "name", "score")
    JdbcUpsertSink.upsertSharded(v2, nShards, urls(_), table, Seq("k"), batchSize = 7)
    val byShard2 = urls.map(readShard)
    assert(byShard1.map(_.map(_._1).toSet).zip(byShard2.map(_.map(_._1).toSet))
      .forall { case (s1, s2) => s1.subsetOf(s2) },
      "a key moved shards between waves")
    val expect = (1L to 70L).map(i =>
      (i, s"user$i", if (i <= 30) i * 10 + 1 else i * 10))
    assert(byShard2.flatten.sortBy(_._1) == expect)
    // replay wave 2 verbatim (stream restart): state unchanged
    JdbcUpsertSink.upsertSharded(v2, nShards, urls(_), table, Seq("k"), batchSize = 7)
    assert(urls.map(readShard) == byShard2)
  }

  test("partitionByShard: exact 1:1 shard->partition map (no hash collisions)") {
    // repartition(n, $"__shard") hash-partitions the shard id, so two
    // shards can collide into one task while another sits empty — the
    // documented "one writer task per store" needs an exact partitioner
    // (ADVICE r16). Pin: partition i holds shard i and nothing else.
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val nShards = 8
    val df = (1L to 400L).map(i => (i, s"u$i")).toDF("k", "name")
      .select(col("k"), col("name"),
        pmod(xxhash64(col("k")), lit(nShards.toLong)).cast("int").as("__shard"))
    val perPart = JdbcUpsertSink.partitionByShard(df, nShards, 2)
      .mapPartitionsWithIndex { (pid, it) =>
        Iterator((pid, it.map(_.getInt(2)).toSet))
      }.collect().toMap
    assert(perPart.keySet == (0 until nShards).toSet)
    (0 until nShards).foreach { p =>
      assert(perPart(p).subsetOf(Set(p)),
        s"partition $p holds shards ${perPart(p)} — not the 1:1 map")
    }
    // 400 keys over 8 shards: every shard must actually be populated,
    // i.e. all 8 writer tasks run in parallel rather than some idling
    assert(perPart.values.count(_.nonEmpty) == nShards)
  }

  test("shard manifest: stamped layout is enforced, mismatched N refused") {
    val root = TestSpark.tempDir("graft-derby-mf-")
    val urls = (0 until 2).map(i =>
      s"jdbc:derby:${root.resolve(s"s$i").toAbsolutePath};create=true")
    val table = "tmf"
    urls.foreach { u =>
      val c = DriverManager.getConnection(u)
      try c.createStatement().executeUpdate(s"CREATE TABLE $table ($ddl)")
      finally c.close()
    }
    val v = (1L to 20L).map(i => (i, s"user$i", i)).toDF("k", "name", "score")
    // unstamped store + verifyManifest: must refuse, not silently write
    val e0 = intercept[org.apache.spark.SparkException] {
      JdbcUpsertSink.upsertSharded(v, 2, urls(_), table, Seq("k"),
        verifyManifest = true)
    }
    assert(e0.getMessage.contains("no shard manifest") ||
      Option(e0.getCause).exists(_.getMessage.contains("no shard manifest")))
    JdbcUpsertSink.writeShardManifest(urls)
    // correct layout: writes proceed
    JdbcUpsertSink.upsertSharded(v, 2, urls(_), table, Seq("k"),
      verifyManifest = true)
    // addressed as 3 shards against a 2-shard layout: refused loudly
    val e1 = intercept[org.apache.spark.SparkException] {
      JdbcUpsertSink.upsertSharded(v, 3, i => urls(i % 2), table, Seq("k"),
        verifyManifest = true)
    }
    assert(e1.getMessage.contains("manifest mismatch") ||
      Option(e1.getCause).exists(_.getMessage.contains("manifest mismatch")))
  }

  test("reshard 2 -> 3: keys move to their new store, state is preserved") {
    val root = TestSpark.tempDir("graft-derby-rs-")
    val table = "trs"
    def mkStores(n: Int, tag: String): IndexedSeq[String] = {
      val urls = (0 until n).map(i =>
        s"jdbc:derby:${root.resolve(s"$tag$i").toAbsolutePath};create=true")
      urls.foreach { u =>
        val c = DriverManager.getConnection(u)
        try c.createStatement().executeUpdate(s"CREATE TABLE $table ($ddl)")
        finally c.close()
      }
      urls
    }
    def readShard(u: String): Seq[(Long, String, Long)] = {
      val c = DriverManager.getConnection(u)
      try {
        val rs = c.createStatement()
          .executeQuery(s"SELECT k, name, score FROM $table ORDER BY k")
        val buf = Seq.newBuilder[(Long, String, Long)]
        while (rs.next()) buf += ((rs.getLong(1), rs.getString(2), rs.getLong(3)))
        buf.result()
      } finally c.close()
    }
    val cols = Seq("k", "name", "score")
    val oldUrls = mkStores(2, "old")
    val data = (1L to 50L).map(i => (i, s"user$i", i * 10))
    JdbcUpsertSink.upsertSharded(data.toDF(cols: _*), 2, oldUrls(_), table, Seq("k"))
    JdbcUpsertSink.writeShardManifest(oldUrls)
    val before = oldUrls.flatMap(readShard).sortBy(_._1)
    assert(before == data)

    val newUrls = mkStores(3, "new")
    val migrated = JdbcUpsertSink.reshard(
      spark, oldUrls, newUrls, table, cols, Seq("k"))
    assert(migrated == 50L)
    val byNew = newUrls.map(readShard)
    // every key in exactly one new store; union equals pre-migration state
    assert(byNew.flatMap(_.map(_._1)).sorted == (1L to 50L))
    assert(byNew.flatten.sortBy(_._1) == before)
    assert(byNew.count(_.nonEmpty) > 1, "reshard never spread the keys")
    // new layout is stamped: a 3-shard verifyManifest write now passes,
    // and the OLD 2-shard addressing against a new store refuses
    JdbcUpsertSink.upsertSharded(
      Seq((51L, "user51", 510L)).toDF(cols: _*), 3, newUrls(_), table,
      Seq("k"), verifyManifest = true)
    val eOld = intercept[org.apache.spark.SparkException] {
      JdbcUpsertSink.upsertSharded(
        Seq((52L, "user52", 520L)).toDF(cols: _*), 2, i => newUrls(i), table,
        Seq("k"), verifyManifest = true)
    }
    assert(eOld.getMessage.contains("manifest mismatch") ||
      Option(eOld.getCause).exists(_.getMessage.contains("manifest mismatch")))
    // reshard is idempotent: re-running converges to the same final state
    // (key 51 was upserted after, so re-migrate only the original rows)
    val byNewAfter = newUrls.map(readShard)
    JdbcUpsertSink.reshard(spark, oldUrls, newUrls, table, cols, Seq("k"))
    assert(newUrls.map(readShard) == byNewAfter)
  }
}
