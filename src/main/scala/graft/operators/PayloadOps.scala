package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** F1 (`message-fields-filter`) and F2 (`flag-field-config`) — nested-field
  * removal / presence-flagging compiled from config keypaths into pure
  * Catalyst expression trees (`dropFields`/`withField`/`transform`), no UDFs.
  *
  * Reference semantics (`/root/reference/src/kafka_source.py:85-100`): a
  * keypath is matched with array indices normalized away (regex `\[\d+\]`),
  * so `a.b` matches `a[0].b`, `a[1].b`, … — i.e. the op applies to every
  * element when a path segment crosses an array of structs, at any depth.
  * Paths that do not resolve are no-ops (reference pops with default).
  *
  * Scale note: per-row and shuffle-free — the config compiles once at plan
  * build, and the same plan serves 60k rows or 100 TB. Array-crossing paths
  * compile to interpreted `transform` lambdas (no whole-stage codegen).
  */
object PayloadOps {

  /** Normalize `a[3].b` → `a.b` then split on the configured separator. */
  def splitPath(path: String, sep: String = "."): List[String] =
    path.replaceAll("\\[\\d+\\]", "").split(java.util.regex.Pattern.quote(sep)).toList.filter(_.nonEmpty)

  private def fieldType(st: StructType, name: String): Option[DataType] =
    st.fields.find(_.name == name).map(_.dataType)

  /** Rewrite `structCol` (typed `st`) so that `path` is dropped. */
  private def dropIn(structCol: Column, st: StructType, path: List[String]): Column = path match {
    case Nil => structCol
    case p :: Nil =>
      if (st.fieldNames.contains(p)) structCol.dropFields(p) else structCol
    case p :: rest =>
      fieldType(st, p) match {
        case Some(s: StructType) =>
          structCol.withField(p, dropIn(structCol.getField(p), s, rest))
        case Some(ArrayType(s: StructType, _)) =>
          structCol.withField(p, transform(structCol.getField(p), x => dropIn(x, s, rest)))
        case _ => structCol // unresolvable path: no-op, like the reference's pop-with-default
      }
  }

  /** Rewrite `structCol` so that `path`'s value becomes a 0/1 presence flag. */
  private def flagIn(structCol: Column, st: StructType, path: List[String]): Column = path match {
    case Nil => structCol
    case p :: Nil =>
      if (st.fieldNames.contains(p))
        structCol.withField(p, when(structCol.getField(p).isNotNull, lit(1)).otherwise(lit(0)))
      else structCol
    case p :: rest =>
      fieldType(st, p) match {
        case Some(s: StructType) =>
          structCol.withField(p, flagIn(structCol.getField(p), s, rest))
        case Some(ArrayType(s: StructType, _)) =>
          structCol.withField(p, transform(structCol.getField(p), x => flagIn(x, s, rest)))
        case _ => structCol
      }
  }

  /** Apply all configured drop-paths (F1) then flag-paths (F2) to a payload
    * struct column, mirroring the reference's order (drop before flag,
    * `/root/reference/src/kafka_source.py:85-100`).
    */
  def apply(
      payload: Column,
      schema: StructType,
      dropPaths: Seq[String],
      flagPaths: Seq[String],
      sep: String = "."): Column = {
    // Track the evolving schema through drops so later paths resolve against
    // the already-rewritten struct (flags don't change shape).
    var col = payload
    var st = schema
    dropPaths.foreach { p =>
      val segs = splitPath(p, sep)
      col = dropIn(col, st, segs)
      st = dropFromSchema(st, segs)
    }
    flagPaths.foreach { p => col = flagIn(col, st, splitPath(p, sep)) }
    col
  }

  /** Schema-level mirror of [[dropIn]], used to keep path resolution honest
    * across successive drops.
    */
  def dropFromSchema(st: StructType, path: List[String]): StructType = path match {
    case Nil => st
    case p :: Nil => StructType(st.fields.filterNot(_.name == p))
    case p :: rest =>
      StructType(st.fields.map {
        case f if f.name == p =>
          f.dataType match {
            case s: StructType => f.copy(dataType = dropFromSchema(s, rest))
            case ArrayType(s: StructType, n) => f.copy(dataType = ArrayType(dropFromSchema(s, rest), n))
            case _ => f
          }
        case f => f
      })
  }

  /** Schema after applying F2 flags (flagged leaves become IntegerType). */
  def flagInSchema(st: StructType, path: List[String]): StructType = path match {
    case Nil => st
    case p :: Nil =>
      StructType(st.fields.map {
        case f if f.name == p => f.copy(dataType = IntegerType, nullable = false)
        case f => f
      })
    case p :: rest =>
      StructType(st.fields.map {
        case f if f.name == p =>
          f.dataType match {
            case s: StructType => f.copy(dataType = flagInSchema(s, rest))
            case ArrayType(s: StructType, n) => f.copy(dataType = ArrayType(flagInSchema(s, rest), n))
            case _ => f
          }
        case f => f
      })
  }

  /** Resulting payload schema after F1+F2 — needed by downstream transform
    * path validation.
    */
  def resultSchema(schema: StructType, dropPaths: Seq[String], flagPaths: Seq[String], sep: String = "."): StructType = {
    var st = schema
    dropPaths.foreach(p => st = dropFromSchema(st, splitPath(p, sep)))
    flagPaths.foreach(p => st = flagInSchema(st, splitPath(p, sep)))
    st
  }
}
