package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // shared session; do not stop

  def rowsOf(df: DataFrame): Seq[Map[String, Any]] = {
    val cols = df.columns
    df.collect().toSeq.map(r => cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    graft.core.Graft.session("graft-test", "local[4]")
}

/** Flow fixture row matching the engine's flow column contract
  * (FIXTURES.md §1-§3; null-able protocol extras default to absent). */
case class Fx(
    flow_id: Long = 0L,
    src_ip4: String = "10.0.0.1",
    src_ip6: String = null,
    dst_ip: String = "192.0.2.1",
    protocol: Int = 6,
    src_port: Long = 40000L,
    dst_port: Int = 80,
    packets: Long = 10L,
    bytes: Long = 1000L,
    tcp_flags: Long = 16L,
    start_ms: Long = 1502900000000L,
    end_ms: Long = 1502900001000L,
    http_host: String = null,
    dns_name: String = null,
    dns_qtype: Option[Int] = None,
    dns_flags: Option[Long] = None,
    dns_crr_type: Option[Int] = None,
    dns_rdata: String = null,
    tls_cipher_suites: String = null)

object Fx {
  def df(spark: SparkSession, rows: Fx*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF()
  }
}
