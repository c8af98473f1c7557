package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Validate, Validator}

/** Shared session + the reference test harness's assertion style
  * (`test/__init__.py::BaseFilterTestCase` — assertFilterPasses /
  * assertFilterErrors, SURVEY.md §5): every check asserts BOTH the cleaned
  * value and the exact error-code list. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** Run a validator over a single-column DataFrame of `ddl`-typed values;
    * returns (cleanedValue, errorCodes) per input row, in input order. */
  def runFilter(v: Validator, ddl: String, values: Seq[Any]): Seq[(Any, Seq[String])] = {
    val rows = values.zipWithIndex.map { case (x, i) => Row(i, x) }
    val schema = StructType.fromDDL(s"id INT, v $ddl")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, 1), schema)
    val out = Validate.column(df, "v", v).orderBy("id").collect()
    out.toSeq.map { r =>
      val errs = r.getSeq[Row](r.fieldIndex("_errors")).map(_.getString(1))
      (r.get(r.fieldIndex("v")), errs)
    }
  }

  def assertPasses(v: Validator, ddl: String, in: Any, expected: Any): Unit = {
    val Seq((cleaned, codes)) = runFilter(v, ddl, Seq(in))
    assert(codes.isEmpty, s"expected no errors for $in, got $codes")
    assert(cleaned == expected, s"cleaned($in) = $cleaned, expected $expected")
  }

  def assertErrors(v: Validator, ddl: String, in: Any, expectedCodes: Seq[String]): Unit = {
    val Seq((cleaned, codes)) = runFilter(v, ddl, Seq(in))
    assert(codes == expectedCodes, s"codes($in) = $codes, expected $expectedCodes")
    assert(cleaned == null, s"invalid value must clean to null, got $cleaned")
  }
}

object SparkSuite {
  lazy val session: SparkSession = GraftSession.local(4)
}
