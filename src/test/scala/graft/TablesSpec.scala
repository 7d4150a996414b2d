package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** The events loader's normalization contract: whatever physical
  * timestamp layout the testdata generation ships (TIMESTAMP(NANOS)
  * read as ns-longs in earlier rounds, native TIMESTAMP(MICROS)
  * now), every downstream query sees the same two columns:
  * `ts_ns` epoch-nanos long + `ts` µs TIMESTAMP_NTZ, mutually
  * consistent. A driver-side testdata regeneration must never again
  * take out the whole events family (round-7 incident: ts switched
  * ns→µs and 41 specs went red at once). */
class TablesSpec extends SparkSpec {

  test("events normalizes to the (ts_ns long, ts ntz) contract") {
    val e = Tables.events(spark, sfDir)
    assert(e.schema("ts_ns").dataType === LongType)
    assert(e.schema("ts").dataType === TimestampNTZType)
    // the two representations agree: ts is exactly the µs floor of ts_ns
    val off = e.filter(
      expr("unix_micros(cast(ts as timestamp)) != ts_ns div 1000")).count()
    assert(off === 0, s"$off rows where ts != floor_us(ts_ns)")
    // plausible epoch range (year 2000..2100), not garbage from a
    // wrong unit interpretation (ns-as-µs would land in year ~1970)
    val row = e.agg(min(col("ts_ns")).as("lo"), max(col("ts_ns")).as("hi")).head()
    val (lo, hi) = (row.getLong(0), row.getLong(1))
    assert(lo > 946684800L * 1000000000L, s"ts_ns lo=$lo before year 2000 — unit bug")
    assert(hi < 4102444800L * 1000000000L, s"ts_ns hi=$hi after year 2100 — unit bug")
  }

  test("parquet footer metadata equals the scan: row count and max(ts)") {
    import org.apache.spark.sql.functions._
    for (name <- Seq("events", "embeddings")) {
      val scanned = Tables.load(spark, sfDir, name).count()
      assert(Tables.parquetRowCount(spark, sfDir, name) === Some(scanned),
        s"$name footer row count must equal the scan count")
    }
    val scanMaxUs = Math.floorDiv(Tables.events(spark, sfDir)
      .agg(max(col("ts_ns"))).head().getLong(0), 1000L)
    assert(Tables.parquetMaxTimestampMicros(spark, sfDir, "events", "ts") ===
      Some(scanMaxUs), "footer max(ts) must equal the scanned max exactly")
    // the same instants in every parquet timestamp encoding Spark
    // writes: the footer helper reads the unit from the column's own
    // annotation, and INT96 (no annotation, no usable order) has none
    val dir = java.nio.file.Files.createTempDirectory("graft-ts-units").toString
    val ts = Tables.events(spark, sfDir).select(col("ts").cast("timestamp").as("ts"))
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    try {
      for (unit <- Seq("TIMESTAMP_MILLIS", "TIMESTAMP_MICROS", "INT96")) {
        spark.conf.set(key, unit)
        ts.write.parquet(s"$dir/$unit.parquet")
        val footer = Tables.parquetMaxTimestampMicros(spark, dir, unit, "ts")
        if (unit == "INT96") assert(footer === None, "INT96 must fall back to the scan")
        else {
          val scanned = spark.read.parquet(s"$dir/$unit.parquet")
            .agg(max(unix_micros(col("ts")))).head().getLong(0)
          assert(footer === Some(scanned), s"$unit footer max(ts) must equal the scan")
        }
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
