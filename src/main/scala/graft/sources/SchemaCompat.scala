package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** Widening-cast policy shared by the managed evolving-append path
  * ([[TableManager.appendEvolving]]) and the versioned commit protocol
  * ([[VersionedTable.append]]): which incoming-column types are allowed
  * to land in a table column of a different type, and the loud guard
  * that rejects everything else at WRITE time — an incompatible append
  * must fail when it commits, not rows later inside a reader's
  * mergeSchema with a stack trace pointing at the wrong job.
  */
private[sources] object SchemaCompat {

  /** Deep nullable normalization — a file-based read always serves
    * nullable columns (a directory written later may lack the field),
    * so the LOG-recorded schema must never claim non-nullability a
    * reader would then trust.
    */
  def nullableDeep(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullableDeep(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = nullableDeep(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = nullableDeep(m.valueType), valueContainsNull = true)
    case other => other
  }

  def nullableJson(s: StructType): String =
    nullableDeep(s).asInstanceOf[StructType].json

  /** True iff Spark's hash expressions accept `dt`: they reject a map
    * (unordered — no canonical hash) at any depth.
    */
  def hashable(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => false
    case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
    case s: StructType => s.fields.forall(f => hashable(f.dataType))
    case _ => true
  }

  /** The accepted widening casts, listed explicitly rather than by a
    * numeric rank — a rank order would silently admit the LOSSY
    * promotions (int→float and long→float overflow a 24-bit mantissa).
    * long→double is the one deliberate exception to strict losslessness
    * (exact only below 2⁵³): count columns promote to averages
    * throughout the reference's pipelines, and refusing it would make
    * the common evolution impossible. Everything else (string↔numeric,
    * nested changes…) is rejected.
    */
  val wideningCasts: Set[(DataType, DataType)] = {
    import org.apache.spark.sql.types._
    val integralChain = Seq(ByteType, ShortType, IntegerType, LongType)
    val chain = for {
      (from, i) <- integralChain.zipWithIndex
      to <- integralChain.drop(i + 1)
    } yield (from: DataType, to: DataType)
    chain.toSet ++ Set[(DataType, DataType)](
      (ByteType, FloatType), (ShortType, FloatType), (FloatType, DoubleType),
      (ByteType, DoubleType), (ShortType, DoubleType), (IntegerType, DoubleType),
      (LongType, DoubleType))
  }

  /** Loud guard: incoming columns may be NARROWER than the table (int
    * into long — a cast widens losslessly) but never WIDER (long into
    * int would truncate silently row by row). Also rejects
    * cross-family / unranked type changes (string into int, array into
    * scalar): schema drift that drastic is a pipeline bug, not
    * evolution. Columns only on one side pass — add-a-column is
    * legitimate evolution, and a missing column reads as null.
    */
  def checkNoNarrowing(incoming: StructType, table: StructType,
                       tableName: String): Unit = {
    val bad = incoming.fields.flatMap { f =>
      table.find(_.name == f.name).collect {
        case t if t.dataType != f.dataType &&
            !wideningCasts.contains((f.dataType, t.dataType)) =>
          s"${f.name}: incoming ${f.dataType.simpleString} does not widen " +
            s"to table ${t.dataType.simpleString}"
      }
    }
    if (bad.nonEmpty) throw new IllegalStateException(
      s"append into $tableName would narrow/reinterpret columns " +
        s"(${bad.mkString("; ")}); widen the table first or overwrite " +
        "deliberately if the type change is intentional")
  }

  /** [[checkNoNarrowing]] + the cast that makes the check sufficient:
    * common columns whose incoming type differs (and widens) are cast
    * to the TABLE type, so the written files carry the table's physical
    * type and a later mergeSchema read never has to reconcile int
    * against long (parquet schema merging rejects exactly that).
    * Incoming-only columns pass through untouched (evolution) and
    * table-only columns stay absent (null on read).
    */
  def alignWidening(df: DataFrame, table: StructType,
                    tableName: String): DataFrame = {
    checkNoNarrowing(df.schema, table, tableName)
    val needsCast = df.schema.fields.exists(f =>
      table.find(_.name == f.name).exists(_.dataType != f.dataType))
    if (!needsCast) df
    else df.select(df.schema.fields.map { f =>
      table.find(_.name == f.name) match {
        case Some(t) if t.dataType != f.dataType =>
          col(f.name).cast(t.dataType).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
  }
}
