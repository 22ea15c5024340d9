package graft.sinks

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.ChangeEvent
import graft.meta.{ColumnDef, TableDef}

class FormatsSpec extends SparkSpec {
  import spark.implicits._

  private val t = TableDef("db1", "t1", Seq(
    ColumnDef("id", "bigint", isPrimaryKey = true),
    ColumnDef("k", "int"),
    ColumnDef("c", "varchar(120)")))

  private def envelope = Seq(
    ChangeEvent("db1", "t1", "insert", new Timestamp(1700000000000L),
      "gtid:1", 1L, 0, Map("id" -> "1", "k" -> "10", "c" -> "a"), null),
    ChangeEvent("db1", "t1", "delete", new Timestamp(1700000001000L),
      "gtid:2", 2L, 0, Map("id" -> "2", "k" -> "20", "c" -> "b"), null)
  ).toDF()

  test("streamLoadJson emits _delete_sign_ 0/1 rows") {
    val typed = Seq((1L, 10, "a", "insert"), (2L, 20, "b", "delete"))
      .toDF("id", "k", "c", "op")
    val rows = Formats.streamLoadJson(typed, t).as[String].collect()
    assert(rows(0) == """{"id":1,"k":10,"c":"a","_delete_sign_":0}""")
    assert(rows(1) == """{"id":2,"k":20,"c":"b","_delete_sign_":1}""")
  }

  test("stream-load headers: SR base, Doris adds MERGE") {
    val sr = Formats.streamLoadHeaders(t, doris = false)
    assert(sr("columns") == "id,k,c,_delete_sign_")
    assert(sr("strip_outer_array") == "true" && !sr.contains("merge_type"))
    val doris = Formats.streamLoadHeaders(t, doris = true)
    assert(doris("merge_type") == "MERGE" && doris("delete") == "_delete_sign_=1")
  }

  test("kafkaJson carries database/table/type/ts/data/old") {
    val v = Formats.kafkaJson(envelope).as[String].collect().head
    assert(v.contains(""""database":"db1""""))
    assert(v.contains(""""type":"insert""""))
    assert(v.contains(""""data":{"id":"1","k":"10","c":"a"}"""))
    assert(v.contains(""""ts":1700000000"""))
  }

  test("debeziumJson: c/u/d op codes, explicit null images, source block") {
    val rows = Formats.debeziumJson(envelope).as[String].collect()
    // insert → op c, before image EXPLICITLY null (not absent)
    assert(rows(0).contains(""""op":"c""""))
    assert(rows(0).contains(""""before":null"""))
    assert(rows(0).contains(""""after":{"id":"1","k":"10","c":"a"}"""))
    assert(rows(0).contains(
      """"source":{"connector":"graft","db":"db1","table":"t1","pos":"gtid:1"}"""))
    assert(rows(0).contains(""""ts_ms":1700000000000"""))
    // delete → op d, after image null
    assert(rows(1).contains(""""op":"d""""))
    assert(rows(1).contains(""""after":null"""))
  }

  test("canalJson has sqlType/mysqlType/pkNames/serverId and stringified data") {
    val v = Formats.canalJson(envelope, t).as[String].collect().head
    assert(v.contains(""""pkNames":["id"]"""))
    // Aliyun/MySQL-protocol codes (kafka_utils.go:128-230), not JDBC
    assert(v.contains(""""sqlType":{"id":8,"k":3,"c":253}"""))
    assert(v.contains(""""mysqlType":{"id":"bigint","k":"int","c":"varchar"}"""))
    assert(v.contains(""""type":"INSERT""""))
    assert(v.contains(""""isDdl":false"""))
    assert(v.contains(""""serverId":"""""))
    // what a Canal consumer reads back: id, identity, gtid, event
    // time, and the after/before images as one-element arrays
    val upd = Seq(ChangeEvent("db1", "t1", "update",
      new Timestamp(1700000002000L), "gtid:3", 3L, 0,
      Map("id" -> "1", "k" -> "11", "c" -> "a"),
      Map("id" -> "1", "k" -> "10", "c" -> "a"))).toDF()
    val u = Formats.canalJson(upd, t).as[String].collect().head
    assert(u.startsWith(
      """{"id":3,"database":"db1","table":"t1","gtid":["gtid:3"],"""), u)
    assert(u.contains(""""type":"UPDATE","es":1700000002000,"""), u)
    assert(u.contains(""""data":[{"id":"1","k":"11","c":"a"}],""" +
      """"old":[{"id":"1","k":"10","c":"a"}]}"""), u)
  }

  test("canalType maps the reference's Aliyun/MySQL code table") {
    assert(Formats.canalType("tinyint(1)") == (Some(1), "tinyint"))
    assert(Formats.canalType("smallint") == (Some(2), "smallint"))
    assert(Formats.canalType("int(11)") == (Some(3), "int"))
    assert(Formats.canalType("float") == (Some(4), "float"))
    assert(Formats.canalType("double") == (Some(5), "double"))
    assert(Formats.canalType("timestamp") == (Some(7), "timestamp"))
    assert(Formats.canalType("bigint(20)") == (Some(8), "bigint"))
    assert(Formats.canalType("mediumint") == (Some(9), "mediumint"))
    assert(Formats.canalType("date") == (Some(10), "date"))
    assert(Formats.canalType("time") == (Some(11), "time"))
    assert(Formats.canalType("datetime") == (Some(12), "datetime"))
    assert(Formats.canalType("longtext") == (Some(15), "text"))
    assert(Formats.canalType("bit(1)") == (Some(16), "bit"))
    assert(Formats.canalType("json") == (Some(245), "json"))
    assert(Formats.canalType("decimal(18,4)") == (Some(246), "decimal"))
    assert(Formats.canalType("enum('a','b')") == (Some(247), "enum"))
    assert(Formats.canalType("set('x')") == (Some(248), "set"))
    assert(Formats.canalType("blob") == (Some(252), "blob"))
    assert(Formats.canalType("binary(16)") == (Some(252), "binary"))
    assert(Formats.canalType("varchar(64)") == (Some(253), "varchar"))
    assert(Formats.canalType("char(8)") == (Some(254), "char"))
    // year: present in mysqlType, ABSENT from sqlType (reference parity)
    assert(Formats.canalType("year") == (None, "year"))
  }

  test("withKafkaKey: partition = hash % n, key = hash string") {
    val out = Formats.withKafkaKey(envelope, t, numPartitions = 8)
      .select($"key", $"partition").as[(String, Int)].collect()
    out.foreach { case (key, part) =>
      assert(part >= 0 && part < 8)
      assert(BigInt(key) % 8 == part)
    }
    // same pk hashes to same partition deterministically
    val again = Formats.withKafkaKey(envelope, t, 8)
      .select($"partition").as[Int].collect()
    assert(again.toSeq == out.map(_._2).toSeq)
  }
}
