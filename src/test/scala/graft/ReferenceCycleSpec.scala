package graft

import graft.sources.{GeoTiff, HttpFetcher, Notifier, Publish}
import graft.sources.GeoTiff.Raster
import org.apache.spark.sql.functions._

/** The reference's WHOLE ingestion cycle end-to-end with REAL formats
  * and REAL transport — the "a user of the reference could switch"
  * demonstration: a remote server publishes a GeoTIFF slice; the
  * engine fetches it (conditional GET), decodes it task-side,
  * computes the anomaly-vs-climatology product (nodata-masked, the
  * chirps_rainfall semantics), publishes the per-date tif product,
  * and POSTs the webhook notification; the next cycle hits 304 and
  * skips idempotently. Every stage is a library component already
  * spec'd in isolation — this locks their composition. */
class ReferenceCycleSpec extends SparkSpec {

  test("fetch → decode → anomaly → publish tif → notify; second cycle skips on 304") {
    // ---- the "remote": serves one 3×2 rainfall slice with an ETag,
    // and records webhook notifications
    val notifications = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fetches = new java.util.concurrent.atomic.AtomicInteger
    val slice = Raster(3, 2, 0.5, 0.5, -10.0, 10.0, Some(-9999.0),
      Array(12.0, 20.0, -9999.0, 8.0, 16.0, 24.0))
    val sliceBytes = GeoTiff.encode(slice)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/data/rain.tif", (ex: com.sun.net.httpserver.HttpExchange) => {
      fetches.incrementAndGet()
      if (Option(ex.getRequestHeaders.getFirst("If-None-Match")).contains("\"g1\""))
        ex.sendResponseHeaders(304, -1)
      else {
        ex.getResponseHeaders.set("ETag", "\"g1\"")
        ex.sendResponseHeaders(200, sliceBytes.length.toLong)
        ex.getResponseBody.write(sliceBytes)
      }
      ex.close()
    })
    server.createContext("/ingest", (ex: com.sun.net.httpserver.HttpExchange) => {
      notifications.add(new String(ex.getRequestBody.readAllBytes(), "UTF-8"))
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = java.nio.file.Files.createTempDirectory("graft_refcycle").toString
      val fetcher = new HttpFetcher()
      val notifier = new Notifier.HttpNotifier(s"$base/ingest", Some("s3cret"))
      val dateKey = "2024-06-01"

      def cycle(): Option[java.nio.file.Path] =
        fetcher.fetchIfChanged(s"$base/data/rain.tif", s"$root/landing/rain.tif")
          .map { landed =>
            // decode task-side, apply the reference's anomaly product:
            // current − climatology normal, nodata-masked on either side
            val normal = 10.0
            val grid = spark.read.format("graft.sources.TiffGridSource")
              .option("path", landed.toString).load()
              .select(col("x"), col("y"), (col("value") - normal).as("anomaly"))
            val out = GeoTiff.publishTif(grid, "x", "y", "anomaly",
              slice.width, slice.height, s"$root/out", "rain_anomaly", dateKey,
              scaleX = slice.scaleX, scaleY = slice.scaleY,
              tieX = slice.tieX, tieY = slice.tieY,
              cog = true) // the reference's utils.py:72 driver="COG" contract
            notifier.notifyIngest("rain_anomaly", dateKey,
              Publish.IngestPayload("rain_anomaly", out.toString, "geotiff"))
            out
          }

      // cycle 1: new data lands, transforms, publishes, notifies
      val published = cycle()
      assert(published.isDefined)
      val back = GeoTiff.decode(java.nio.file.Files.readAllBytes(published.get))
      // anomalies: 2, 10, NODATA (masked through), -2, 6, 14
      assert(back.value(0, 0) == 2.0 && back.value(1, 0) == 10.0, back.values.mkString(","))
      assert(back.value(2, 0) == -9999.0, "nodata must mask through the transform")
      assert(back.value(0, 1) == -2.0 && back.value(2, 1) == 14.0)
      assert(back.tieX == slice.tieX && back.scaleX == slice.scaleX)
      // the product is COG-layout: tiled (tag 322 present in IFD 0)
      val pubBytes = java.nio.file.Files.readAllBytes(published.get)
      val pb = java.nio.ByteBuffer.wrap(pubBytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ifd0 = pb.getInt(4)
      val nTags = pb.getShort(ifd0) & 0xffff
      assert((0 until nTags).exists(i =>
        (pb.getShort(ifd0 + 2 + i * 12) & 0xffff) == 322),
        "published tif must be tiled (COG layout)")
      import scala.jdk.CollectionConverters._
      val n1 = notifications.asScala.toSeq
      assert(n1.size == 1 && n1.head.contains("namespace=rain_anomaly") &&
        n1.head.contains("date_key=2024-06-01") &&
        n1.head.contains("datatype=geotiff"), n1.toString)

      // cycle 2: remote unchanged → 304 → the reference's
      // "No update required. Skipping" — nothing published or notified
      assert(cycle().isEmpty)
      assert(notifications.size() == 1, "a skipped cycle must not notify")
      assert(fetches.get() == 2)
    } finally server.stop(0)
  }

  test("nc cycle: authed fetch → NcGridSource slices → per-date tif products") {
    // the CAMS/dust shape end-to-end on the r9 pieces: a `.nc` cube
    // (2 lead times) served behind Bearer auth; the engine lands it,
    // reads it through the DSv2 source, and publishes one per-date tif
    // per time step — `ds[var].isel(time=i)` → COG, clean-room
    import graft.sources.{BearerAuth, NetCdf}
    import graft.sources.NetCdf.{Att, Dim, VarSpec}
    val ncBytes = NetCdf.encode(
      Seq(Dim("time", 0), Dim("lat", 2), Dim("lon", 3)), Nil,
      Seq(
        VarSpec("time", Seq("time"), NetCdf.NcDouble,
          atts = Seq(Att("units", Some("hours since 2024-06-01 00:00"),
            Array.empty)),
          values = Array(0.0, 24.0)),
        VarSpec("lat", Seq("lat"), NetCdf.NcDouble, values = Array(10.0, 9.5)),
        VarSpec("lon", Seq("lon"), NetCdf.NcDouble,
          values = Array(-10.0, -9.5, -9.0)),
        VarSpec("pm2p5", Seq("time", "lat", "lon"), NetCdf.NcFloat,
          atts = Seq(Att("_FillValue", None, Array(-9999.0))),
          values = Array(12, 20, -9999, 8, 16, 24, // t=0
            13, 21, -9999, 9, 17, 25).map(_.toDouble))), // t=1
      numRecs = 2)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/nc", (ex: com.sun.net.httpserver.HttpExchange) => {
      if (!Option(ex.getRequestHeaders.getFirst("Authorization"))
        .contains("Bearer cams-token")) ex.sendResponseHeaders(401, -1)
      else {
        ex.sendResponseHeaders(200, ncBytes.length.toLong)
        ex.getResponseBody.write(ncBytes)
      }
      ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val root = java.nio.file.Files.createTempDirectory("graft_nccycle").toString
      // unauthenticated fetch refused — the dustforecast auth=(u,p) /
      // BearerAuth path is load-bearing, not decorative
      intercept[java.io.IOException] {
        new HttpFetcher().fetch(s"$base/nc", s"$root/landing/x.nc")
      }
      new HttpFetcher(auth = Some(BearerAuth("cams-token")))
        .fetch(s"$base/nc", s"$root/landing/forecast.nc")
      val df = spark.read.format("graft.sources.NcGridSource")
        .option("path", s"$root/landing").option("var", "pm2p5").load()
      // one tif per time step, keyed by the decoded CF date
      val dates = df.select(col("t"), date_format(col("time"), "yyyy-MM-dd")
        .as("dk")).distinct().collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(dates == Map(0 -> "2024-06-01", 1 -> "2024-06-02"))
      val published = dates.toSeq.sortBy(_._1).map { case (t, dk) =>
        GeoTiff.publishTif(
          df.filter(col("t") === t).select(col("x"), col("y"), col("value")),
          "x", "y", "value", 3, 2, s"$root/out", "cams_pm2p5", dk,
          scaleX = 0.5, scaleY = 0.5, tieX = -10.25, tieY = 10.25)
      }
      assert(published.size == 2)
      val t1 = GeoTiff.decode(java.nio.file.Files.readAllBytes(published(1)))
      assert(t1.value(0, 0) == 13.0 && t1.value(2, 1) == 25.0)
      assert(t1.isNodata(t1.value(2, 0)), "fill must land as nodata in the tif")
    } finally server.stop(0)
  }
}
