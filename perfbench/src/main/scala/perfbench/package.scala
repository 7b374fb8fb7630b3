import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

package object perfbench {

  /** Reads and writes the JSON files the harness and the generator share
    * with `run.py`.
    */
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
