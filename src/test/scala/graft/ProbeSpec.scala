package graft

import scala.jdk.CollectionConverters._

/** graft.Probe's four modes against the suite's shared session: each
  * emits its lines, and none leaves its listener registered. */
class ProbeSpec extends SparkSpec {

  private val q = "summary_by_location"

  private def probe(args: String*): Seq[String] = {
    val out = Seq.newBuilder[String]
    Probe.run(spark, args, out += _)
    out.result()
  }

  /** Probe listeners on the context's bus (the bus accessors are
    * Spark-internal, hence reflection). */
  private def probeListeners: Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala.count(_.isInstanceOf[Probe.Tally])
  }

  private val timing =
    (raw"PROBE (\S+)\s+" + q + raw"\s+p(\d) build=\s*[0-9.]+ plan=\s*[0-9.]+ exec=\s*[0-9.]+ " +
      raw"total=\s*[0-9.]+ \| jobs=\s*\d+ stages=\s*\d+ tasks=\s*\d+ run=\s*[0-9.]+ " +
      raw"deser=\s*[0-9.]+ gc=\s*[0-9.]+").r

  private def timings(lines: Seq[String]): Seq[(String, Int)] =
    lines.collect { case timing(tag, pass) => (tag, pass.toInt) }

  test("time runs each query once, then prints the layer manifest") {
    val lines = probe("time", sf, q)
    assert(timings(lines) === Seq(("time", 1)))
    assert(lines.exists(_.matches(raw"LAYER mart build=[0-9.]+ s builds=\d+ reuses=\d+")))
    assert(probeListeners === 0)
  }

  test("profile runs each query twice, each pass with its top stages by deserialize time") {
    val lines = probe("profile", sf, q)
    assert(timings(lines) === Seq(("profile", 1), ("profile", 2)))
    assert(lines.exists(_.startsWith("STAGE ")))
    assert(probeListeners === 0)
  }

  test("plan prints the formatted physical plan under a name header") {
    val lines = probe("plan", sf, q)
    assert(lines.head === s"===== $q =====")
    assert(lines(1).contains("== Physical Plan =="))
    assert(probeListeners === 0)
  }

  test("ab runs three passes over two arms, alternating arm order") {
    val lines = probe("ab", sf, "A:spark.sql.shuffle.partitions=2",
      "B:spark.sql.shuffle.partitions=3", q)
    assert(timings(lines) ===
      Seq(("A", 1), ("B", 1), ("B", 2), ("A", 2), ("A", 3), ("B", 3)))
    assert(probeListeners === 0)
  }

  test("malformed arguments are rejected and leave no listener registered") {
    intercept[IllegalArgumentException](probe("nope", sf, q))
    intercept[IllegalArgumentException](probe("time", sf))
    intercept[IllegalArgumentException](probe("time", sf, "A:k=v", q))
    intercept[IllegalArgumentException](probe("time", sf, "no_such_query"))
    assert(probeListeners === 0)
  }
}
