package graft.functions

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** ClickHouse's `dictGet('dict', 'attr', key)` consumer surface
  * (SURVEY §2 J1): the reference declares hashed dictionaries with a
  * LIFETIME TTL (create_tables.sql:48-67,97-114) and downstream BI SQL
  * reads them with per-row `dictGet` calls. The engine's J1 enrichment
  * ([[graft.operators.Relational.enrich]]) covers the join form; this
  * is the SQL-function form, so scripts run through `IO.runScript` can
  * express the reference pattern verbatim.
  *
  * Semantics and scale posture mirror CH exactly: a dictionary is a
  * RAM-resident hash table replicated to every node — here a
  * driver-built `HashMap` shipped once per executor as a broadcast
  * (NOT per task, and never a shuffle). The loud `maxEntries` guard is
  * CH's own constraint made explicit: a dimension too big for RAM is
  * not a dictionary, it's a join. `dict_get` returns NULL on a missing
  * key (CH `dictGetOrNull`); `dict_get_or_default(d, a, key, dflt)` is
  * CH `dictGetOrDefault`. Refresh = call [[Dictionaries.create]] again
  * (the TTL loop lives in [[graft.pipeline.DictionaryRefresh]]).
  *
  * Refresh is DRAIN-SAFE: the displaced broadcast is `unpersist`ed
  * (lazily), never `destroy`ed — unpersist drops the executor copies
  * but keeps the driver value, so a query mid-flight (or a cached
  * plan) still bound to the old `Dict` re-fetches and finishes with
  * the snapshot it started with. That is exactly CH's LIFETIME
  * contract (create_tables.sql:48-67): a reload never aborts running
  * queries, it only changes what NEW queries see. `destroy()` (which
  * frees the driver value too and makes any later use throw) is
  * reserved for [[Dictionaries.drop]], the explicit teardown.
  */
object Dictionaries {

  final case class Dict(keyType: DataType, attrs: StructType,
                        bc: Broadcast[java.util.HashMap[Any, Array[Any]]])

  /** Server-scoped like CH's: one namespace per JVM. */
  private val registry = new ConcurrentHashMap[String, Dict]()

  /** Default cap on dictionary cardinality — past this, the honest
    * plan is a broadcast/shuffle JOIN, and the guard says so.
    */
  val DefaultMaxEntries: Int = 2000000

  /** Load `dim` (key column + attribute columns) as dictionary `name`
    * for the `dict_get`/`dict_get_or_default` SQL functions (registered
    * in every session by [[graft.GraftExtensions]]). Duplicate keys fail
    * loudly (CH hashed layout requires unique keys); so does exceeding
    * `maxEntries`.
    */
  def create(spark: SparkSession, name: String, dim: DataFrame,
             keyCol: String, maxEntries: Int = DefaultMaxEntries): Unit = {
    val schema = dim.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val attrFields = schema.fields.zipWithIndex.filter(_._2 != keyIdx)
    val attrs = StructType(attrFields.map(_._1))
    // one bounded pass: limit(max+1) + executeCollect keeps values in
    // INTERNAL representation (UTF8String etc.), exactly what the
    // expression's eval/codegen compares against
    val rows: Array[InternalRow] =
      dim.limit(maxEntries + 1).queryExecution.executedPlan.executeCollect()
    if (rows.length > maxEntries)
      throw new IllegalStateException(
        s"dictionary '$name': more than $maxEntries entries — a " +
          s"dimension this size is a broadcast/shuffle JOIN, not a " +
          s"RAM-resident dictionary (raise maxEntries only if every " +
          s"executor can hold it)")
    val keyType = schema(keyIdx).dataType
    val map = new java.util.HashMap[Any, Array[Any]](rows.length * 2)
    rows.foreach { r =>
      val k = r.get(keyIdx, keyType)
      if (k == null)
        throw new IllegalArgumentException(
          s"dictionary '$name': NULL key in '$keyCol'")
      val vals = attrFields.map { case (f, i) => r.get(i, f.dataType) }
      if (map.put(k, vals) != null)
        throw new IllegalArgumentException(
          s"dictionary '$name': duplicate key $k in '$keyCol' " +
            s"(hashed layout requires unique keys)")
    }
    val bc = spark.sparkContext.broadcast(map)
    // drain-safe swap: unpersist (not destroy) the displaced broadcast —
    // in-flight queries bound to it re-fetch from the retained driver
    // value and complete; executor blocks are freed; ContextCleaner
    // reclaims the driver copy once the last plan reference is gone
    Option(registry.put(name, Dict(keyType, attrs, bc)))
      .foreach(_.bc.unpersist(blocking = false))
  }

  def drop(name: String): Unit =
    Option(registry.remove(name)).foreach(_.bc.destroy())

  private[functions] def lookup(name: String): Dict = {
    val d = registry.get(name)
    if (d == null)
      throw new IllegalArgumentException(
        s"dict_get: no dictionary '$name' — create it with " +
          s"graft.functions.Dictionaries.create(spark, name, dim, keyCol)")
    d
  }

  /** Foldable-literal string argument (the dictionary/attr name). */
  private def litString(e: Expression, what: String): String = {
    require(e.foldable && e.dataType == StringType,
      s"dict_get: $what must be a string literal")
    val v = e.eval(null)
    require(v != null, s"dict_get: $what must not be NULL")
    v.toString
  }

  /** `dict_get('name', 'attr', key)` builder. */
  def buildDictGet(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, "dict_get('dict', 'attr', key)")
    val name = litString(exprs(0), "dictionary name")
    val attr = litString(exprs(1), "attribute name")
    val d = lookup(name)
    val idx = d.attrs.fieldNames.indexOf(attr)
    require(idx >= 0, s"dict_get: dictionary '$name' has no attribute " +
      s"'$attr' (has: ${d.attrs.fieldNames.mkString(", ")})")
    val key = if (exprs(2).dataType == d.keyType) exprs(2)
              else Cast(exprs(2), d.keyType)
    DictGetExpr(key, name, attr, d.bc, idx, d.attrs(idx).dataType)
  }

  /** `dict_get_or_default('name', 'attr', key, default)` — CH
    * dictGetOrDefault, composed as coalesce over the NULL-on-miss form.
    */
  def buildDictGetOrDefault(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 4,
      "dict_get_or_default('dict', 'attr', key, default)")
    Coalesce(Seq(buildDictGet(exprs.take(3)), exprs(3)))
  }
}

/** The per-row lookup: `map.get(key)` into the broadcast hash table —
  * O(1), no shuffle, codegen'd so it stays inside the enclosing
  * WholeStageCodegen span (CH's dictGet is the same RAM probe). NULL
  * key or missing key → NULL.
  */
case class DictGetExpr(child: Expression, dictName: String, attr: String,
                       bc: Broadcast[java.util.HashMap[Any, Array[Any]]],
                       idx: Int, valueType: DataType)
    extends UnaryExpression {

  override def dataType: DataType = valueType
  override def nullable: Boolean = true
  override def prettyName: String = "dict_get"
  override def sql: String = s"dict_get('$dictName', '$attr', ${child.sql})"

  override def eval(input: InternalRow): Any = {
    val k = child.eval(input)
    if (k == null) null
    else {
      val cells = bc.value.get(k)
      if (cells == null) null else cells(idx)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("dictBc", bc,
      classOf[Broadcast[java.util.HashMap[Any, Array[Any]]]].getName)
    val mapVar = ctx.addMutableState("java.util.HashMap", "dictMap",
      v => s"$v = (java.util.HashMap) $bcRef.value();")
    val keyGen = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(valueType)
    val cells = ctx.freshName("dictCells")
    val cell = ctx.freshName("dictCell")
    val boxedKey =
      if (CodeGenerator.isPrimitiveType(child.dataType))
        s"${CodeGenerator.boxedType(child.dataType)}.valueOf(${keyGen.value})"
      else keyGen.value
    val unboxCell =
      if (CodeGenerator.isPrimitiveType(valueType))
        s"((${CodeGenerator.boxedType(valueType)}) $cell).${javaType}Value()"
      else s"($javaType) $cell"
    ev.copy(code = code"""
      ${keyGen.code}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(valueType)};
      if (!${keyGen.isNull}) {
        Object[] $cells = (Object[]) $mapVar.get($boxedKey);
        if ($cells != null) {
          Object $cell = $cells[$idx];
          if ($cell != null) {
            ${ev.isNull} = false;
            ${ev.value} = $unboxCell;
          }
        }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): DictGetExpr =
    copy(child = newChild)
}
