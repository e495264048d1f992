package graft

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.meta.InMemoryPg
import graft.types.PgType._

/** Structured Streaming over the postgres source: key-range micro-batch
  * offsets against the offline endpoint. */
class PostgresStreamSpec extends AnyFunSuite with SharedSparkSession {

  private val dsn = "mem:streamspec"

  private def addRows(pg: InMemoryPg, tbl: String, range: Range): Unit = {
    val t = pg.getTable("public", tbl)
    range.foreach { i =>
      t.slots += Some(new GenericInternalRow(
        Array[Any](i.toLong, UTF8String.fromString(s"v_$i"))))
    }
  }

  private def freshTable(name: String, db: String): InMemoryPg = {
    val pg = InMemoryPg.forName(db)
    if (!pg.hasTable("public", name))
      pg.createTable("public", name, Seq("id" -> PgInt8, "v" -> PgVarchar))
    pg
  }

  test("micro-batches are incremental: each batch scans only the new key interval") {
    val pg = freshTable("ticks", "streamspec")
    addRows(pg, "ticks", 0 until 100)

    val stream = spark.readStream.format("postgres")
      .option("dsn", dsn).option("table", "ticks")
      .option("streamKey", "id").load()

    val name = s"ticks_sink_${System.nanoTime()}"
    val ckpt = s"/dev/shm/graft_stream_$name"
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 100)

      pg.clearCopyOutLog()
      addRows(pg, "ticks", 100 until 130)
      q.processAllAvailable()
      assert(spark.table(name).count() == 130)

      // the incremental batch's COPY must carry the key interval — not
      // a full rescan
      val scans = pg.copyOutSnapshot.filter(s =>
        s.contains("\"ticks\"") && !s.contains("max(") && !s.contains("min("))
      assert(scans.nonEmpty && scans.forall(s =>
        s.contains("\"id\" > 99") && s.contains("\"id\" <= 129")),
        s"expected key-interval WHERE in: $scans")

      // offsets are exactly-once: no duplicate ids across batches
      assert(spark.table(name).select("id").distinct().count() == 130)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("wide backfill interval splits into streamTasks parallel key ranges") {
    val pg = freshTable("backfill", "streamspec")
    addRows(pg, "backfill", 0 until 90)
    pg.clearCopyOutLog()

    val stream = spark.readStream.format("postgres")
      .option("dsn", dsn).option("table", "backfill")
      .option("streamKey", "id").option("streamTasks", "3").load()

    val name = s"backfill_sink_${System.nanoTime()}"
    val ckpt = s"/dev/shm/graft_stream_$name"
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 90)
      assert(spark.table(name).select("id").distinct().count() == 90)
      val scans = pg.copyOutSnapshot.filter(s =>
        s.contains("\"backfill\"") && !s.contains("max(") && !s.contains("min("))
      assert(scans.length == 3, s"expected 3 key sub-range scans: $scans")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streamMaxKeysPerBatch bounds catch-up into multiple micro-batches") {
    val pg = freshTable("catchup", "streamspec")
    addRows(pg, "catchup", 0 until 100)
    pg.clearCopyOutLog()

    val stream = spark.readStream.format("postgres")
      .option("dsn", dsn).option("table", "catchup")
      .option("streamKey", "id").option("streamMaxKeysPerBatch", "30").load()

    val name = s"catchup_sink_${System.nanoTime()}"
    val ckpt = s"/dev/shm/graft_stream_$name"
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 100)
      assert(spark.table(name).select("id").distinct().count() == 100)
      // catch-up ran as bounded steps: 30+30+30+10, four interval scans
      // (distinct: a task retry under load re-issues an identical
      // interval statement without changing the batch boundaries)
      val scans = pg.copyOutSnapshot.filter(s =>
        s.contains("\"catchup\"") && !s.contains("max(") && !s.contains("min("))
      assert(scans.distinct.length == 4,
        s"expected 4 bounded catch-up scans: $scans")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streaming sink: pg-to-pg pipe lands rows exactly once across batches") {
    val pg = freshTable("pipe_src", "streamspec")
    addRows(pg, "pipe_src", 0 until 50)
    val t = graft.meta.PgTransportFactory.open(dsn)
    try t.execute("""CREATE TABLE IF NOT EXISTS "public"."pipe_dst" ("id" BIGINT, "v" VARCHAR)""")
    finally t.close()

    val stream = spark.readStream.format("postgres")
      .option("dsn", dsn).option("table", "pipe_src")
      .option("streamKey", "id").load()

    val ckpt = s"/dev/shm/graft_stream_pipe_${System.nanoTime()}"
    val q = stream.writeStream.outputMode("append")
      .format("postgres")
      .option("dsn", dsn).option("table", "pipe_dst")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      def dstCount: Long = spark.read.format("postgres")
        .option("dsn", dsn).option("table", "pipe_dst").load().count()
      assert(dstCount == 50)

      addRows(pg, "pipe_src", 50 until 80)
      q.processAllAvailable()
      assert(dstCount == 80)
      // exactly-once: all ids distinct in the sink
      assert(spark.read.format("postgres")
        .option("dsn", dsn).option("table", "pipe_dst").load()
        .select("id").distinct().count() == 80)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("streaming sink: a replayed epoch commit is a no-op") {
    import graft.sources.postgres._
    val pg = freshTable("replay_dst", "streamspec")
    val opts = PostgresOptions(Map("dsn" -> dsn, "table" -> "replay_dst"))
    val table = PostgresTable.discover(opts)
    val write = new PostgresWriteBuilder(table,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
      .build().toStreaming

    def seedStaging(name: String, ids: Range): Unit = {
      val t = graft.meta.PgTransportFactory.open(dsn)
      try {
        t.execute(s"""CREATE TABLE "public"."$name" ("id" BIGINT, "v" VARCHAR)""")
        val mt = pg.getTable("public", name)
        ids.foreach { i =>
          mt.slots += Some(new GenericInternalRow(
            Array[Any](i.toLong, UTF8String.fromString(s"r_$i"))))
        }
      } finally t.close()
    }
    // trigger epochs-table creation exactly as a live stream would
    write.createStreamingWriterFactory(null)

    seedStaging("replay_stg_a", 0 until 10)
    write.commit(42L, Array(PgStagedCommit("replay_stg_a")))
    def dstCount: Long = spark.read.format("postgres")
      .option("dsn", dsn).option("table", "replay_dst").load().count()
    assert(dstCount == 10)
    assert(!pg.hasTable("public", "replay_stg_a")) // staging promoted+dropped

    // replay of epoch 42 (driver restart re-runs the batch): dropped, not promoted
    seedStaging("replay_stg_b", 10 until 20)
    write.commit(42L, Array(PgStagedCommit("replay_stg_b")))
    assert(dstCount == 10)
    assert(!pg.hasTable("public", "replay_stg_b"))

    // the next epoch promotes normally
    seedStaging("replay_stg_c", 10 until 20)
    write.commit(43L, Array(PgStagedCommit("replay_stg_c")))
    assert(dstCount == 20)

    // retention trims markers far behind the tail in the same commit
    seedStaging("replay_stg_d", 20 until 21)
    write.commit(200L, Array(PgStagedCommit("replay_stg_d")))
    val epochs = pg.getTable("public", "__graft_stream_epochs").slots.flatten
      .filter(_.getUTF8String(0).toString == "public.replay_dst")
      .map(_.getLong(1)).toSeq
    assert(epochs.contains(200L) && !epochs.contains(42L) && !epochs.contains(43L),
      s"epochs 42/43 should be trimmed at epoch 200 with retention 100: $epochs")
  }

  test("streamStart=latest skips existing rows; residual filters apply host-side") {
    val pg = freshTable("tail", "streamspec")
    addRows(pg, "tail", 0 until 50)

    val stream = spark.readStream.format("postgres")
      .option("dsn", dsn).option("table", "tail")
      .option("streamKey", "id").option("streamStart", "latest").load()
      .filter(org.apache.spark.sql.functions.col("id") % 2 === 0)

    val name = s"tail_sink_${System.nanoTime()}"
    val ckpt = s"/dev/shm/graft_stream_$name"
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table(name).count() == 0) // history skipped

      addRows(pg, "tail", 50 until 60)
      q.processAllAvailable()
      val got = spark.table(name).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(50L, 52L, 54L, 56L, 58L))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
  }

  test("orphan sweep drops only this sink's dead stagings and exact legacy names") {
    import graft.sources.postgres._
    val pg = freshTable("sweep_dst", "streamspec")
    val tag = graft.sqlgen.PgSqlGen.sinkTag("public", "sweep_dst")

    def mk(name: String): Unit =
      if (!pg.hasTable("public", name))
        pg.createTable("public", name, Seq("id" -> PgInt8, "v" -> PgVarchar))

    // dead current-scheme staging (other jobId) → swept
    mk(s"sweep_dst_${tag}_stg_deadbeef0001")
    // exact legacy-scheme orphan (prefix + 12 hex) → swept
    mk("sweep_dst_stg_0123456789ab")
    // user table under the legacy prefix but NOT 12-lone-hex → survives
    mk("sweep_dst_stg_custom")
    mk("sweep_dst_stg_0123456789ab_x")
    // live staging of a DIFFERENT sink whose table is literally named
    // 'sweep_dst_stg_x' — the cross-sink aliasing case → survives
    val otherTag = graft.sqlgen.PgSqlGen.sinkTag("public", "sweep_dst_stg_x")
    mk(s"sweep_dst_stg_x_${otherTag}_stg_cafebabe0002")

    val opts = PostgresOptions(Map("dsn" -> dsn, "table" -> "sweep_dst"))
    val table = PostgresTable.discover(opts)
    val write = new PostgresWriteBuilder(table,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))))
      .build().toStreaming
    write.createStreamingWriterFactory(null) // runs the sweep

    assert(!pg.hasTable("public", s"sweep_dst_${tag}_stg_deadbeef0001"),
      "dead current-scheme staging should be swept")
    assert(!pg.hasTable("public", "sweep_dst_stg_0123456789ab"),
      "exact legacy orphan should be swept")
    assert(pg.hasTable("public", "sweep_dst_stg_custom"),
      "user table under the legacy prefix must survive")
    assert(pg.hasTable("public", "sweep_dst_stg_0123456789ab_x"),
      "legacy prefix with a suffix after the jobId must survive")
    assert(pg.hasTable("public", s"sweep_dst_stg_x_${otherTag}_stg_cafebabe0002"),
      "another sink's live staging must survive this sink's sweep")
  }
}
