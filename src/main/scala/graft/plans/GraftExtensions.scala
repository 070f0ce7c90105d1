package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

import graft.Core.rewriteUT

/** Catalyst extension registration (SURVEY.md §2.10): the `UT(` →
  * `UNIX_TIMESTAMP(` macro as a parser injection — the idiomatic variant of
  * the reference's pre-parse string rewrite (database.py:227-234) — plus the
  * native searchsorted expression as a SQL function, and the LLM operator
  * family as table-valued functions ([[TableFunctions]], the reference's
  * P1 everything-through-SQL gateway surface).
  *
  * Every graft session installs it through [[graft.Core.ExtensionsConf]]
  * (spark.sql.extensions=graft.plans.GraftExtensions).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectParser((_, delegate) => new UTMacroParser(delegate))
    e.injectFunction(SearchSorted.descriptor)
    e.injectFunction(ArrayDot.descriptor)
    e.injectFunction(ArrayCosine.descriptor)
    e.injectFunction(NfcNormalize.descriptor)
    e.injectOptimizerRule(_ => PushdownUnixTimestamp)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // the LLM/analytics operator family as table-valued functions — the
    // SQL-gateway surface (SELECT * FROM dedup_minhash('corpus', ...))
    TableFunctions.descriptors.foreach(e.injectTableFunction)
  }
}

/** Delegating parser that applies the reference's `UT(` macro
  * ([[graft.Core.rewriteUT]]) to query text before the real parse —
  * statements only; identifiers/types pass through.
  */
class UTMacroParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(rewriteUT(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(rewriteUT(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(rewriteUT(sqlText))
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
