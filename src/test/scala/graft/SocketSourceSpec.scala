package graft

import java.io.PrintWriter
import java.net.ServerSocket
import graft.io.Sources

/** S3: the socket source against a real local server — the reference's
  * `socketTextStream("localhost", 7777)` (`HotPages.java:41`) end-to-end:
  * socket lines → Apache-log parse → typed rows.
  */
class SocketSourceSpec extends SparkSpec {
  import spark.implicits._

  test("socket source streams lines through the log parser") {
    val server = new ServerSocket(0) // ephemeral port
    val port = server.getLocalPort
    @volatile var clientError: Option[Throwable] = None
    val writer = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new PrintWriter(sock.getOutputStream, true)
        (1 to 50).foreach { i =>
          out.println(
            f"10.0.0.$i - - 17/05/2015:10:05:${i % 60}%02d +0000 GET /page/$i")
        }
        out.flush()
        Thread.sleep(3000) // keep the connection open while Spark reads
        sock.close()
      } catch { case t: Throwable => clientError = Some(t) }
    })
    writer.setDaemon(true)
    writer.start()

    val lines = Sources.socketLines(spark, "localhost", port)
    val parsed = Sources.parseApacheLines(lines)
    val q = parsed.writeStream.format("memory").queryName("socket_rows")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n < 50 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        n = spark.table("socket_rows").count()
      }
      assert(clientError.isEmpty, s"writer failed: $clientError")
      assert(n == 50, s"expected 50 parsed rows, got $n")
      val row = spark.table("socket_rows")
        .filter($"url" === "/page/7").head()
      assert(row.getAs[String]("ip") == "10.0.0.7")
      assert(row.getAs[String]("method") == "GET")
      assert(row.getAs[java.sql.Timestamp]("ts") != null)
    } finally {
      q.stop()
      server.close()
    }
  }
}
