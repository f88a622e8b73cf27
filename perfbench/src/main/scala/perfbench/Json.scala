package perfbench

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the result line and the span file, written by Jackson (on
  * the classpath through Spark) with its Scala module, so Scala maps,
  * sequences and options serialize directly. */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def write(v: Any): String = mapper.writeValueAsString(v)

  /** Named metrics as `{name: {"value": v, "unit": u}}`, in order. */
  def metrics(ms: Seq[(String, (Double, String))]): ListMap[String, ListMap[String, Any]] =
    ListMap(ms.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }: _*)
}
