package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The deletion-vector filter of a merge-on-read scan, applied inside
  * the scan: true when the row at (`filePath`, `rowIndex`) — the
  * scan's `_metadata.file_path` / `_metadata.row_index` — is LIVE,
  * false when the version's deletion vector lists it.
  *
  * The vector rides in one broadcast variable (per-file sorted
  * row-index arrays keyed by the engine's file key, built on the
  * driver — see `ManifestTable.live`), never in the plan. Per row the
  * cost is one same-file check and one cursor probe: the file key
  * (`substring_index(file_path, '/', -2)`, byte-for-byte the key the
  * vector's writer stored) and the file's position array are looked
  * up once per file, and the cursor advances with the row index
  * (positions a scan reads in order cost O(1) amortized; a backwards
  * step re-seeks by binary search). That replaces the per-row string
  * key, hash probe and broadcast build of an anti-join.
  *
  * Deterministic in its result, stateful in its cache: each partition
  * gets its own [[LiveRows.Probe]]. Equality is the vector's identity
  * (`dvDir`, a committed, immutable frame dir), not the broadcast
  * handle, so two reads of one version stay the same plan for cache
  * and exchange reuse. A NULL input reads as live, as the anti-join
  * kept a NULL key.
  */
case class LiveRows(filePath: Expression, rowIndex: Expression,
    dvDir: String)(val positions: Broadcast[Map[UTF8String, Array[Long]]])
    extends BinaryExpression {

  override def left: Expression = filePath
  override def right: Expression = rowIndex

  override def checkInputDataTypes(): TypeCheckResult =
    (filePath.dataType, rowIndex.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (p, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, bigint) arguments, got $p and $r")
    }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def stateful: Boolean = true
  override def prettyName: String = "graft_dv_live"
  override protected def otherCopyArgs: Seq[AnyRef] = positions :: Nil

  def newProbe(): LiveRows.Probe = new LiveRows.Probe(positions.value)

  @transient private lazy val probe = newProbe()

  override def eval(input: InternalRow): Any = {
    val p = filePath.eval(input)
    val r = rowIndex.eval(input)
    p == null || r == null ||
      probe.live(p.asInstanceOf[UTF8String], r.asInstanceOf[Long])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("liveRows", this)
    val probe = ctx.addMutableState(classOf[LiveRows.Probe].getName,
      "dvProbe", v => s"$v = $self.newProbe();", forceInline = true)
    val p = filePath.genCode(ctx)
    val r = rowIndex.genCode(ctx)
    ev.copy(code = code"""
      |${p.code}
      |${r.code}
      |boolean ${ev.value} = ${p.isNull} || ${r.isNull} ||
      |  $probe.live(${p.value}, ${r.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(filePath = newLeft, rowIndex = newRight)(positions)
}

object LiveRows {
  private val slash = UTF8String.fromString("/")

  /** The engine's file key of a scan path: its last two segments,
    * exactly `substring_index(path, '/', -2)`. */
  def fileKey(path: UTF8String): UTF8String = path.subStringIndex(slash, -2)

  /** One partition's probe state: the current file, its sorted
    * deleted positions (null = none) and a cursor into them. */
  final class Probe(positions: Map[UTF8String, Array[Long]]) {
    private var ref: UTF8String = null  // the last input object
    private var path: UTF8String = null // a private copy of its bytes
    private var rows: Array[Long] = null
    private var cursor = -1
    private var last = Long.MinValue

    def live(p: UTF8String, ri: Long): Boolean = {
      // scans hand the same path object to every row of a file (the
      // constant metadata column); a different object is compared by
      // bytes against a copy, since a row buffer may be reused
      if (!(p eq ref)) {
        if (!p.equals(path)) {
          path = p.clone()
          rows = positions.getOrElse(fileKey(p), null)
          cursor = -1
        }
        ref = p
      }
      if (rows == null) return true
      if (cursor < 0 || ri < last) {
        val i = java.util.Arrays.binarySearch(rows, ri)
        cursor = if (i >= 0) i else -i - 1
      } else
        while (cursor < rows.length && rows(cursor) < ri) cursor += 1
      last = ri
      !(cursor < rows.length && rows(cursor) == ri)
    }
  }
}
