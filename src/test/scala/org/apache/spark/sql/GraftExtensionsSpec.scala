package org.apache.spark.sql

import graft.functions.GraftExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** `GraftExtensions` by itself makes graft's SQL functions resolvable: it is
  * applied to a fresh copy of Spark's built-in function registry, so no
  * session, and no function another suite registered on one, takes part.
  * In Spark's package for `SparkSessionExtensions.registerFunctions`.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions resolves xxhash64_seed0 and unicode_normalize in a fresh registry") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    val builtin = FunctionRegistry.builtin.clone()
    Seq("xxhash64_seed0", "unicode_normalize").foreach(name =>
      assert(builtin.lookupFunction(FunctionIdentifier(name)).isEmpty, name))
    val registry = ext.registerFunctions(builtin)
    def call(name: String, args: String*): Any =
      registry.lookupFunction(FunctionIdentifier(name), args.map(Literal(_))).eval()
    assert(call("xxhash64_seed0", "abc") == 0x44BC2CF5AD770999L)
    assert(call("unicode_normalize", "e\u0301", "NFC") == UTF8String.fromString("\u00e9"))
    assert(call("unicode_normalize", "\u00e9", "NFD") == UTF8String.fromString("e\u0301"))
  }
}
