package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every session has graft's native functions and `FrameLimitRule` from
  * the moment it exists: the extension provider listed under
  * `META-INF/services` installs them, so no graft code has to run on a
  * session first. A `newSession()` clone of the shared test session
  * shares its extensions but none of its runtime state, so it stands in
  * for a session no graft code has touched. */
class ExtensionsSpec extends AnyFunSuite {

  private def fresh = SparkTestSession.spark.newSession()

  test("a fresh session resolves every row of the function table") {
    val reg = fresh.sessionState.functionRegistry
    val names = GraftFunctions.fns.map(_._1)
    assert(names.distinct.size == names.size, s"duplicate rows: $names")
    val missing = names.filterNot(n => reg.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not installed in a fresh session: $missing")
  }

  test("functions evaluate through SQL in a fresh session") {
    val s = fresh
    // 'e' + combining acute composes to the single code point U+00E9
    val nfc = s.sql("select text_nfc('e\u0301')").head().getString(0)
    assert(nfc == "\u00e9")
    val dot = s.sql("select vec_dot(array(1d, 2d, 3d), array(4d, 5d, 6d))")
      .head().getDouble(0)
    assert(dot == 32.0)
    assert(s.sql("select char_stats('ab1')").head().get(0) != null)
  }

  test("FrameLimitRule is active in a fresh session") {
    val s = fresh
    val df = s.range(3).select(col("id"),
        explode(sequence(lit(0L), col("id") + 5)).as("frame_idx"))
      .filter(col("frame_idx") < 2)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("least("), s"sequence bound not pushed:\n$optimized")
    assert(df.count() == 6L)
  }
}
