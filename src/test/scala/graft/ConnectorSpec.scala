package graft

import java.nio.file.Files

import graft.model.Schemas
import graft.sources.{AtomicWarehouse, CsvSource, GraftBlobFileSystem, JdbcSink}

/** Proof-of-seam for SURVEY §7's "storage is a connector detail" stance:
  * the engine runs unchanged against a different storage scheme, and
  * dimension frames round-trip through a real JDBC database — zero changes
  * in `operators/` for either.
  */
class ConnectorSpec extends SparkSpec {
  import spark.implicits._

  test("object-store-style scheme: EP1 runs end-to-end on a graftblob:// warehouse") {
    GraftBlobFileSystem.install(spark)
    val dir = Files.createTempDirectory("graft-blobwh-").toString
    val wh = new AtomicWarehouse(spark, s"graftblob:$dir")
    val p = new Pipeline(spark, wh)
    val csv =
      """Producto,Fecha 1,Provedor,Precio,,,,
        |Aceite Capullo 500ml *,07/03/2025,Vicente,1.347,,,,
        |Arroz Premium 1kg x 12,07/03/2025,DosPinos,2.500,,,,
        |""".stripMargin
    val res = p.processCsv(CsvSource.readString(spark, csv), "products", "lista.csv")
    assert(res.status, res.message)
    // dims landed under the foreign scheme, engine code untouched
    val names = wh.read("dims/Provider", Schemas.provider)
      .collect().map(_.getString(1)).sorted.toSeq
    assert(names == Seq("Dos Pinos", "Vicente"))
    assert(p.ledger.statusOf("products", "lista.csv") == Schemas.FileStatus.Success)
    // and the skip-if-done lifecycle reads back through the same scheme
    assert(p.processCsv(CsvSource.readString(spark, csv), "products", "lista.csv")
      .message.contains("already processed"))
  }

  test("JDBC sink: dims-shaped frames round-trip through embedded Derby") {
    val sink = new JdbcSink(spark, "jdbc:derby:memory:graftdb;create=true",
      Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver"))
    val dims = Seq((1, "Dos Pinos", "2025-03-07"), (2, "Vicente", "2025-03-07"))
      .toDF("Id", "Name", "CreatedDate")
    sink.overwrite("Provider", dims)
    sink.append("Provider", Seq((3, "Serrano", "2025-03-08")).toDF("Id", "Name", "CreatedDate"))
    val back = sink.read("Provider").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    assert(back == Seq((1, "Dos Pinos"), (2, "Vicente"), (3, "Serrano")))
    // overwrite replaces, as the merge layer's replace semantics require
    sink.overwrite("Provider", dims)
    assert(sink.read("Provider").count() == 2)
  }
}
