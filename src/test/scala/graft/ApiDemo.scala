package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import graft.api.Destination
import graft.cdc._
import graft.tables.TableStore
// Dev-only driver: exercises the public ingest API end-to-end as a
// library consumer would (configure -> open -> write -> ack -> read back).
// Run: sbt "Test/runMain graft.ApiDemo"
object ApiDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "apidemo-").toString
    new TableStore(spark, root).create("users", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))))
    println("[demo] params: " + Destination.parameters.map(_.name).mkString(","))
    println("[demo] bad config: " + Destination.configure(Map("table" -> "users")))
    val cfg = Destination.configure(Map(
      "store.root" -> root, "table" -> "users", "key.columns" -> "id")).get
    val stream = Destination.open(spark, cfg)
    val ack = stream.write(CdcRecord("pos-1".getBytes, CdcOp.Create,
      key = Some(RawData("""{"id": 1}""")),
      after = Some(RawData("""{"id": 1, "name": "ada"}"""))))
    println("[demo] ack: " + ack.map(a => new String(a.position)))
    val acks = stream.writeBatch(Seq(
      CdcRecord("pos-2".getBytes, CdcOp.Update, key = Some(RawData("""{"id": 1}""")),
        after = Some(RawData("""{"id": 1, "name": "ada lovelace"}"""))),
      CdcRecord("pos-3".getBytes, CdcOp.Create, key = Some(RawData("""{"id": 2}""")),
        after = Some(RawData("""{"id": 2, "name": "grace"}""")))))
    println("[demo] batch acks: " + acks.map(_.map(a => new String(a.position))))
    println("[demo] bad record: " + stream.write(
      CdcRecord("pos-4".getBytes, CdcOp.Delete, key = Some(RawData("{}")))))
    stream.table.orderBy("id").show(false)

    // multi-collection routing + atomic cross-table batch: one batch
    // carries records for BOTH tables; either every table publishes or
    // none does (graft.api.MultiDestination)
    val store = new TableStore(spark, root)
    store.create("logins", StructType(Seq(
      StructField("id", LongType), StructField("at", StringType))))
    val multi = graft.api.MultiDestination.open(spark,
      graft.api.MultiDestination.Config(root,
        keyColsByCollection = Map("users" -> Seq("id"), "logins" -> Seq("id"))))
    def routed(coll: String, pos: String, id: Long, payload: String) =
      CdcRecord(pos.getBytes, CdcOp.Create,
        metadata = Map("opencdc.collection" -> coll),
        key = Some(RawData(s"""{"id": $id}""")),
        after = Some(RawData(payload)))
    val multiAcks = multi.writeBatch(Seq(
      routed("users", "pos-5", 3L, """{"id": 3, "name": "edsger"}"""),
      routed("logins", "pos-6", 100L, """{"id": 100, "at": "2026-08-16"}""")))
    println("[demo] multi-collection acks: " +
      multiAcks.map(_.map(a => new String(a.position))))
    multi.table("logins").show(false)

    // multi-table transaction straight on the store: facts + rollup can
    // never be observed out of sync
    store.transaction { tx =>
      tx.append("logins", {
        import spark.implicits._
        Seq((101L, "2026-08-17")).toDF("id", "at")
      })
      tx.delete("logins", org.apache.spark.sql.functions.col("id") === 100L)
    }
    println("[demo] after transaction:")
    store.read("logins").orderBy("id").show(false)
    spark.stop()
  }
}
