package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Path}

/** A table-log JSON file (manifest, checkpoint, txn file) as a document:
  * specs read one, or edit one and write it back to stand in for a file
  * an older writer made. */
object LogDocs {
  private val mapper = new ObjectMapper()

  def read(p: Path): ObjectNode =
    mapper.readTree(Files.readAllBytes(p)).asInstanceOf[ObjectNode]

  def edit(p: Path)(change: ObjectNode => Unit): Unit = {
    val o = read(p)
    change(o)
    Files.write(p, mapper.writeValueAsBytes(o))
  }

  def isDelta(p: Path): Boolean = read(p).path("delta").asBoolean(false)
}
