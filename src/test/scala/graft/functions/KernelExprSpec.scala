package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.queries.Catalog

/** Contracts of the table-driven kernel expression ([[KernelExpr]] over
  * [[GraftFunctions.kernels]]): generated code that compiles, a named
  * analysis error for every kernel's wrong argument types, plans that read
  * `graft_<name>(<args>)`, the interpreted path, and cheap per-session
  * registration.
  */
class KernelExprSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // Two calls of one nullable kernel in one whole-stage function must not
  // declare the same Java local twice. With the default fallback on, Spark
  // silently runs such a stage interpreted; with it off the compile error
  // fails the query.
  for (q <- Seq("d25_media_neardup", "d26_media_phash_eval",
      "d30_media_minhash_eval"))
    test(s"$q compiles with codegen fallback off") {
      withConf("spark.sql.codegen.fallback", "false") {
        Catalog.byName(q).run(spark, sf)
          .write.format("noop").mode("overwrite").save()
      }
    }

  test("every kernel row names a method that takes its arguments") {
    for (k <- GraftFunctions.kernels; name <- k.method +: k.doubleMethod.toSeq) {
      val m = k.owner.getClass.getMethods
        .find(m => m.getName == name && m.getParameterCount == k.args.length)
      assert(m.isDefined, s"${k.name}: no $name/${k.args.length}")
      // a primitive-typed kernel that may return null must return it boxed
      if (CodeGenerator.isPrimitiveType(k.dataType))
        assert(m.get.getReturnType.isPrimitive === !k.nulls, k.name)
    }
  }

  test("every kernel rejects a wrong argument type at analysis, naming itself") {
    GraftFunctions.register(spark)
    for (k <- GraftFunctions.kernels) {
      val args = k.args.map {
        case l: Lit => l.lo.toString
        case _: Ty => "true"
      }
      val call = s"${k.name}(${args.mkString(", ")})"
      val e = intercept[AnalysisException](spark.sql(s"SELECT $call").collect())
      assert(e.getMessage.contains(s"${k.name} expects"), s"$call: ${e.getMessage}")
    }
  }

  test("type-check messages keep their per-family wording") {
    GraftFunctions.register(spark)
    def msg(sql: String): String =
      intercept[AnalysisException](spark.sql(s"SELECT $sql").collect()).getMessage
    assert(msg("graft_poly_hash(1)")
      .contains("graft_poly_hash expects a string argument, got int"))
    assert(msg("graft_scrub_passages('a', 4, array(1))").contains(
      "graft_scrub_passages expects (string, array<string>), got (string, array<int>)"))
    assert(msg("graft_cos(array(1.0d), array(CAST(1 AS FLOAT)))").contains(
      "graft_cos expects array<float> or array<double> arguments of one element " +
        "type, got array<double>, array<float>"))
    assert(msg("graft_passages('a b', 0)")
      .contains("graft_passages passage width must be >= 1"))
  }

  test("plans render graft_<name>(<args>) with literal args in place") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val p = Seq(("a b c d", Seq("a b"), Seq(1.0))).toDF("t", "b", "v")
      .selectExpr("graft_scrub_passages(t, 2, b) AS r", "graft_lsh_bucket(v) AS l")
      .queryExecution.analyzed.toString
    assert("""graft_scrub_passages\(t#\d+, 2, b#\d+\)""".r.findFirstIn(p).isDefined, p)
    assert("""graft_lsh_bucket\(v#\d+, 8\)""".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("KernelExpr") && !p.contains("staticinvoke"), p)
  }

  test("the interpreted path returns what the generated code returns") {
    GraftFunctions.register(spark)
    // a range, not a local relation: the optimizer would evaluate a
    // projection over local rows itself, interpreted, in both runs
    val df = spark.range(3).selectExpr("element_at(array('the quick brown " +
        "fox jumps over the lazy dog', 'ab', ''), CAST(id AS INT) + 1) AS t")
      .selectExpr("t",
        "transform(split(t, ''), c -> CAST(length(c) AS FLOAT)) AS vf",
        "transform(split(t, ''), c -> CAST(ascii(c) AS DOUBLE)) AS vd")
    val sel = Seq("graft_poly_hash(t)", "graft_dhash(t, 8)",
      "graft_gram_buckets(t, 3, 1000)", "graft_l2(vf, vf)", "graft_cos(vd, vd)",
      "graft_lsh_bucket(vd)", "graft_rep_stats(t)")
    def rows(): Seq[String] = df.selectExpr(sel: _*).collect().map(_.toString).toSeq
    val compiled = rows()
    val interpreted = withConf("spark.sql.codegen.wholeStage", "false") {
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(rows())
    }
    assert(interpreted === compiled)
  }

  test("register skips a registered session and still fills a new one") {
    GraftFunctions.register(spark)
    val fresh = spark.newSession()
    GraftFunctions.register(fresh)
    assert(fresh.sql("SELECT graft_poly_hash('a')").head.getLong(0) ===
      TextHash.polyHash(UTF8String.fromString("a")))
    // a second call leaves the session's functions as they are
    fresh.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("graft_poly_hash"), _ => Literal(7L), "scala_udf")
    GraftFunctions.register(fresh)
    assert(fresh.sql("SELECT graft_poly_hash('a')").head.getLong(0) === 7L)
  }
}
