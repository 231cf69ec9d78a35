package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.functions.{call_function, col, lit}

import graft.functions.Registry

/** graft's SQL functions as one surface: every name is graft's own (none
  * shadows a Spark builtin) and resolves in a graft session, and every
  * misuse fails at analysis, before any job, with a message that names the
  * function (and, for a literal argument, the argument). */
class FunctionsSpec extends SparkSpec {

  private def frame: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(("a b c", 1L)).toDF("x", "y")
  }

  /** The message of the analysis failure of `fn(args)`; `select` only
    * analyzes, so nothing here runs a job. */
  private def refusal(fn: String, args: Column*): String =
    intercept[Exception](frame.select(call_function(fn, args: _*)))
      .getMessage

  test("no registry name shadows a Spark builtin; every name resolves") {
    val names = Registry.functions.map(_.name)
    assert(names.distinct === names)
    assert(names.filter(n =>
      FunctionRegistry.builtin.functionExists(FunctionIdentifier(n))).isEmpty)
    assert(names.filterNot(spark.catalog.functionExists).isEmpty)
  }

  test("a wrong argument count fails at analysis, naming the function") {
    val jobs = jobsRun {
      for (fn <- Registry.functions;
           n <- 0 to fn.arities.max + 1 if !fn.arities.contains(n)) {
        val m = refusal(fn.name, Seq.fill(n)(col("x")): _*)
        assert(m.contains(s"${fn.name} takes") && m.contains(s"got $n"), m)
      }
    }
    assert(jobs === 0)
  }

  // (function, position, argument name, arity of the call): every
  // argument a builder reads as a literal
  private val literalArgs = Seq(
    ("word_ngrams", 1, "n", 3), ("word_ngrams", 2, "drop_empty", 3),
    ("minhash_sig", 1, "k", 2),
    ("minhash_bands", 1, "k", 3), ("minhash_bands", 2, "bands", 3),
    ("lsh_buckets", 1, "tables", 3), ("lsh_buckets", 2, "k", 3),
    ("cms_sketch_agg", 1, "depth", 3), ("cms_sketch_agg", 2, "width", 3),
    ("dds_sketch_agg", 1, "alpha", 2),
    ("space_saving_agg", 1, "k", 2),
    ("bitmap_agg", 1, "max_key", 2),
    ("bloom_filter_agg", 1, "estimatedNumItems", 3),
    ("bloom_filter_agg", 2, "numBits", 3))

  test("a NULL, non-literal or wrongly typed literal argument fails at " +
      "analysis, naming the function and the argument") {
    val byName = Registry.functions.map(f => f.name -> f).toMap
    val jobs = jobsRun {
      for ((fn, pos, arg, arity) <- literalArgs) {
        assert(byName(fn).params(pos) === arg)
        def call(bad: Column): String = refusal(fn,
          (0 until arity).map(i =>
            if (i == pos) bad else if (i == 0) col("y") else lit(2)): _*)
        for ((what, bad) <- Seq("NULL" -> lit(null), "column" -> col("y"),
             "string" -> lit("x"))) {
          val m = call(bad)
          assert(m.contains(fn) && m.contains(arg), s"$fn $arg $what: $m")
        }
        assert(call(lit(null)).contains(s"$fn $arg must not be NULL"))
      }
    }
    assert(jobs === 0)
  }
}
