package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, ExpressionInfo, Literal, Md5, Substring}
import org.apache.spark.sql.graftfn.{BitInterleave, ByteVectorDot, Crc32C, FloatVectorDot, TfExampleDecode, TfExampleEncode, TfRecordFrame}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}

/** SQL surface for the engine's custom expressions, wired the way a
  * cluster enables it: `spark.sql.extensions=graft.functions.GraftExtensions`
  * (set by [[graft.GraftSession]], the builder every entry point uses).
  * Registered functions:
  *
  *  - `graft_fdot(a, b)` — the codegen'd Array[Float] dot product
  *    ([[org.apache.spark.sql.graftfn.FloatVectorDot]]), so pure-SQL
  *    pipelines get the same 6× hot loop the Column API uses.
  *  - `graft_bdot(a, b)` — the integer Array[Byte] dot product over
  *    int8-quantized vectors ([[org.apache.spark.sql.graftfn.ByteVectorDot]]).
  *  - `graft_zorder(a, b)` — the Z-order (Morton) interleave of two
  *    longs' low 32 bits, the multi-dimensional data-layout key
  *    ([[org.apache.spark.sql.graftfn.BitInterleave]]).
  *  - `graft_hash52(s)` — [[graft.llmops.PortableHash.hash52]] as SQL;
  *    expands to the same built-in tree (conv(substr(md5(s),1,13),16,10))
  *    so it stays inside WholeStageCodegen and constant-folds on literals.
  *  - `graft_crc32c(b)` — CRC32C (Castagnoli) of a binary column as an
  *    unsigned 32-bit long ([[org.apache.spark.sql.graftfn.Crc32C]]); the
  *    checksum TFRecord framing requires (built-in `crc32` is IEEE).
  *  - `graft_tfrecord_frame(b)` — one TFRecord frame (length + masked
  *    crc + payload + masked crc) around a binary payload
  *    ([[org.apache.spark.sql.graftfn.TfRecordFrame]]).
  *  - `graft_tf_example(struct)` — a `tf.train.Example` protobuf of the
  *    struct's fields ([[org.apache.spark.sql.graftfn.TfExampleEncode]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer: the composable double-form HOF dot product becomes the
    // codegen'd expression automatically (see RewriteFloatDot).
    ext.injectOptimizerRule(_ => RewriteFloatDot)
    // optimizer: `levenshtein(a, b) <= k` filters gain the free
    // length-difference prefilter (see RewriteLevenshteinBound).
    ext.injectOptimizerRule(_ => RewriteLevenshteinBound)
    ext.injectFunction((
      new FunctionIdentifier("graft_fdot"),
      new ExpressionInfo(classOf[FloatVectorDot].getName, "graft_fdot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_fdot(a, b) takes two array<float> args")
        FloatVectorDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bdot"),
      new ExpressionInfo(classOf[ByteVectorDot].getName, "graft_bdot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_bdot(a, b) takes two array<tinyint> args")
        ByteVectorDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[BitInterleave].getName, "graft_zorder"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_zorder(a, b) takes two bigint args")
        BitInterleave(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hash52"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_hash52"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_hash52(s) takes one string arg")
        Cast(
          Conv(
            Substring(Md5(Cast(children.head, BinaryType)), Literal(1), Literal(13)),
            Literal(16), Literal(10)),
          LongType)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_crc32c"),
      new ExpressionInfo(classOf[Crc32C].getName, "graft_crc32c"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_crc32c(b) takes one binary arg")
        Crc32C(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_tfrecord_frame"),
      new ExpressionInfo(classOf[TfRecordFrame].getName, "graft_tfrecord_frame"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_tfrecord_frame(b) takes one binary arg")
        TfRecordFrame(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_tf_example"),
      new ExpressionInfo(classOf[TfExampleEncode].getName, "graft_tf_example"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_tf_example(struct) takes one struct arg")
        TfExampleEncode(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_tf_example_decode"),
      new ExpressionInfo(classOf[TfExampleDecode].getName, "graft_tf_example_decode"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_tf_example_decode(bytes, 'name TYPE, ...') takes bytes + a DDL string literal")
        val ddl = children(1) match {
          case Literal(s, StringType) if s != null => s.toString
          case _ => throw new IllegalArgumentException(
            "graft_tf_example_decode: schema must be a string literal")
        }
        TfExampleDecode(children.head, StructType.fromDDL(ddl))
      }))
  }
}
