package graft

import java.nio.file.Files

import graft.sources.InvoiceLog

class InvoiceLogSpec extends SparkSuite {
  import spark.implicits._

  test("JSONL round-trip with secret masking on write") {
    val dir = Files.createTempDirectory("invlog").toString + "/log"
    val df = Seq(
      (1L, "card 4111111111111111 ok", 10.5),
      (2L, "token=9999 paid", 20.0)
    ).toDF("invoice_id", "note", "amount")
    InvoiceLog.write(df, dir)
    val back = InvoiceLog.read(spark, dir, schemaOf = Some(df))
    val rows = back.orderBy("invoice_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("note") == "card *** ok")
    assert(rows(1).getAs[String]("note") == "token=*** paid")
    assert(rows(1).getAs[Double]("amount") == 20.0)
  }
}
