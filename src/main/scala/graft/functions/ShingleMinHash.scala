// Hosted inside the org.apache.spark.sql namespace: AbstractDataType and
// classic.ExpressionUtils are private[sql] (the FloatVectorDot pattern).
package org.apache.spark.sql.graftfn

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document hashed word n-gram shingles (+ optional MinHash
  * signature minima) in ONE narrow pass — the compiled replacement for
  * `Dedup.hashedShingleRows`' posexplode → per-doc window → concat_ws →
  * hash → dropDuplicates chain (guide §2.4/§1.2: shingling a document
  * needs nothing outside its own row, yet the window shape paid one
  * exchange of the whole token stream to line tokens up and a second to
  * deduplicate (doc, s); both disappear when the shingle set is built
  * inside the row).
  *
  * Input: the document's token array. Output: a struct
  *
  *   (hashes — the shingle elements' hashes (below); empty when the
  *             document has fewer than `n` tokens,
  *    sigs   — `numHashTables` MinHash signature minima
  *             min_s (A_i·(s mod P) + B_i) mod P over `hashes`; empty
  *             when `hashes` is empty OR numHashTables = 0)
  *
  * `weightCap = 0` — the distinct shingle SET:
  *   - `hashes` are the distinct gram hashes in first-occurrence order;
  *   - dedup is on the HASH value (exactly the old
  *     `dropDuplicates(doc, s)` — a 52-bit collision keeps one row on
  *     both shapes).
  *
  * `weightCap > 0` — the capped MULTISET expansion that
  * `Dedup.weightedMinHashPairs` runs set Jaccard over:
  *   - each distinct gram STRING is counted inside the row (tf), in
  *     first-occurrence order;
  *   - gram g with count tf yields the elements `g + "#" + i` for
  *     i = 1..min(tf, weightCap), each hashed like a gram (so the md5
  *     path gives `hash52(concat(g, '#', i))`), in that order;
  *   - every element is kept — no dedup on the hash, exactly the old
  *     `groupBy(doc).agg(collect_list(s))` over the expanded rows, so a
  *     52-bit collision between two elements keeps both on both shapes;
  *   - the signature minima range over all the elements, exactly the
  *     old `min(minhashPerm(s, i))` aggregates.
  *
  * Value-exactness contract (tested byte-for-byte against the
  * DataFrame shapes each mode replaced):
  *   - `md5_52 = true`: each gram or element hashes to
  *     `conv(substring(md5(x), 1, 13), 16, 10)` — the top 52 bits of
  *     the MD5 digest of its UTF-8 bytes, i.e.
  *     [[graft.llmops.PortableHash.hash52]].
  *   - `md5_52 = false`: Spark's `xxhash64(x)` (seed 42), via the
  *     same `XxHash64Function` the built-in expression calls.
  *   - grams are adjacent n-token windows joined by one space with
  *     concat_ws null semantics (null tokens skipped — tokenizers never
  *     produce them; stated for completeness).
  */
case class ShingleMinHash(child: Expression, n: Int, numHashTables: Int,
    md5_52: Boolean, weightCap: Int = 0) extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n must be >= 1, got $n")
  require(weightCap >= 0, s"weightCap must be >= 0, got $weightCap")
  require(numHashTables >= 0 &&
    numHashTables <= graft.llmops.PortableHash.MinHashA.length)

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ShingleMinHash.Schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_shingle_minhash"

  override def nullSafeEval(input: Any): Any =
    ShingleMinHash.compute(input.asInstanceOf[ArrayData], n, numHashTables, md5_52,
      weightCap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rowCls = classOf[InternalRow].getName
    nullSafeCodeGen(ctx, ev, arr => {
      val tmp = ctx.freshName("shmh")
      s"""
         |$rowCls $tmp = org.apache.spark.sql.graftfn.ShingleMinHash.compute($arr, $n, $numHashTables, $md5_52, $weightCap);
         |${ev.value} = $tmp;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHash =
    copy(child = newChild)
}

object ShingleMinHash {

  val Schema: StructType = StructType(Seq(
    StructField("hashes", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sigs", ArrayType(LongType, containsNull = false), nullable = false)))

  private val Space = UTF8String.fromString(" ")
  private val P = graft.llmops.PortableHash.P
  private val A = graft.llmops.PortableHash.MinHashA
  private val B = graft.llmops.PortableHash.MinHashB

  /** Top 52 bits of the MD5 digest = the first 13 hex chars of
    * `md5(bytes)` parsed base-16 (hex chars are the digest's nibbles in
    * byte order, so chars [0,13) are bytes [0,6) plus the high nibble of
    * byte 6).
    */
  private def md5Top52(bytes: Array[Byte]): Long = {
    val d = ShingleMinHash.md5.get().digest(bytes)
    ((d(0) & 0xffL) << 44) | ((d(1) & 0xffL) << 36) | ((d(2) & 0xffL) << 28) |
      ((d(3) & 0xffL) << 20) | ((d(4) & 0xffL) << 12) | ((d(5) & 0xffL) << 4) |
      ((d(6) & 0xffL) >>> 4)
  }

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** JVM kernel shared by eval and the generated code. Never null: a
    * document with fewer than `n` tokens yields empty arrays (the old
    * shapes produced no rows for it — explode of an empty array).
    */
  def compute(toks: ArrayData, n: Int, numHashTables: Int,
      md5_52: Boolean, weightCap: Int): InternalRow = {
    val m = toks.numElements()
    val nGrams = if (m < n) 0 else m - n + 1
    val parts = new Array[UTF8String](n)
    def gram(i: Int): UTF8String = {
      var k = 0
      while (k < n) { parts(k) = toks.getUTF8String(i + k); k += 1 }
      UTF8String.concatWs(Space, parts: _*)
    }
    val hashes =
      if (weightCap == 0) distinctHashes(nGrams, gram, md5_52)
      else cappedMultisetHashes(nGrams, gram, md5_52, weightCap)
    val k = if (hashes.length == 0) 0 else numHashTables
    val sigs = new Array[Long](k)
    var t = 0
    while (t < k) {
      var best = Long.MaxValue
      var s = 0
      while (s < hashes.length) {
        val p = (A(t) * (hashes(s) % P) + B(t)) % P
        if (p < best) best = p
        s += 1
      }
      sigs(t) = best
      t += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(hashes), new GenericArrayData(sigs)))
  }

  private def hash(s: UTF8String, md5_52: Boolean): Long =
    if (md5_52) md5Top52(s.getBytes) else XxHash64Function.hash(s, StringType, 42L)

  /** The distinct gram hashes, first-occurrence order. */
  private def distinctHashes(nGrams: Int, gram: Int => UTF8String,
      md5_52: Boolean): Array[Long] = {
    val seen = new java.util.LinkedHashSet[java.lang.Long](math.max(8, nGrams * 2))
    var i = 0
    while (i < nGrams) { seen.add(hash(gram(i), md5_52)); i += 1 }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** The hashes of `g#1..g#min(tf, weightCap)` for every distinct gram
    * string g (first-occurrence order), all kept.
    */
  private def cappedMultisetHashes(nGrams: Int, gram: Int => UTF8String,
      md5_52: Boolean, weightCap: Int): Array[Long] = {
    val tf = new java.util.LinkedHashMap[UTF8String, Array[Int]](math.max(8, nGrams * 2))
    var i = 0
    while (i < nGrams) {
      val g = gram(i)
      val c = tf.get(g)
      if (c == null) tf.put(g, Array(1)) else c(0) += 1
      i += 1
    }
    val out = Array.newBuilder[Long]
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = e.getKey.getBytes
      val copies = math.min(e.getValue()(0), weightCap)
      var c = 1
      while (c <= copies) {
        val suffix = ("#" + c).getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val el = java.util.Arrays.copyOf(g, g.length + suffix.length)
        System.arraycopy(suffix, 0, el, g.length, suffix.length)
        out += hash(UTF8String.fromBytes(el), md5_52)
        c += 1
      }
    }
    out.result()
  }

  /** Column-API entry point over a token-array column. */
  def of(tokens: Column, n: Int, numHashTables: Int, md5_52: Boolean,
      weightCap: Int = 0): Column =
    ExpressionUtils.column(ShingleMinHash(
      ExpressionUtils.expression(tokens), n, numHashTables, md5_52, weightCap))
}
