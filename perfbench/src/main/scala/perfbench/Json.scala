package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Jackson helpers: the benchmark writes and reads JSON with the
  * mapper the engine already ships. */
object Json {
  val mapper = new ObjectMapper()

  def parse(s: String): JsonNode = mapper.readTree(s)

  /** Serialize nested Scala maps/seqs/scalars. Map keys keep their
    * insertion order when the map is a `ListMap`/`LinkedHashMap`. */
  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def obj(kv: (String, Any)*): String = write(scala.collection.immutable.ListMap(kv: _*))

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[Any]()
      s.foreach(x => out.add(toJava(x)))
      out
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
}

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) — numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
