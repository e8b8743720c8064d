package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}

/** The harness's JSON writer and reader (Jackson, which Spark ships).
  * Values are Scala trees: a `collection.Map` is an object written in the
  * map's iteration order (build records as a `ListMap` to fix key order),
  * any other `Iterable` an array, plus strings, booleans, numbers and null.
  * Reading returns the same shapes: `ListMap` objects in file order,
  * `Vector` arrays, and numbers with a fraction as `BigDecimal`, so the
  * digits written are the digits read (`1.230` stays `1.230`). */
object Json {
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def read(text: String): Any = fromJava(mapper.readValue(text, classOf[Object]))

  /** Seconds as the bench records them: three decimals. */
  def sec(t: Double): BigDecimal = BigDecimal(t).setScale(3, BigDecimal.RoundingMode.HALF_UP)

  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case xs: Iterable[_] => xs.map(toJava).toSeq.asJava
    case b: BigDecimal => b.bigDecimal
    case x => x
  }

  private def fromJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      ListMap.from(m.asScala.iterator.map { case (k, x) => k.toString -> fromJava(x) })
    case xs: java.util.List[_] => xs.asScala.iterator.map(fromJava).toVector
    case b: java.math.BigDecimal => BigDecimal(b)
    case x => x
  }
}
