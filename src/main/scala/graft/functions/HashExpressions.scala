package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the signature math of the dedup
  * pipeline.
  *
  * The same logic is expressible with built-in higher-order functions
  * (`transform`/`aggregate` nesting), but HOFs evaluate interpreted, one
  * lambda frame per element — for a k=64 signature over every shingle
  * that is 64 array materializations per document and ~1µs per hash.
  * These expressions run the whole signature as one tight JVM loop per
  * row: measured >20× faster at sf0.1, and they keep the per-row cost
  * linear in (shingles + k) rather than shingles × k string re-hashes
  * (each shingle is md5-hashed once, then k cheap xors derive the
  * per-slot hashes — the md5 family is bit-reproducible in DuckDB).
  */
object HashExpressions {

  /** First 8 bytes of md5, big-endian — the same value DuckDB computes
    * as ('0x' || substr(md5(s), 1, 16))::UBIGINT, which is what makes
    * md5-hashed signatures oracle-checkable. MessageDigest is not
    * thread-safe → one per thread. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private[functions] def md5Hash64(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    java.nio.ByteBuffer.wrap(md.digest(s.getBytes)).getLong
  }

  /** MinHash signature: array<bigint> of length k over an array<string>
    * of shingles. Empty input → empty array (callers filter).
    *
    * Hash family: slot j of a shingle is `md5_64(shingle) XOR
    * md5_64("seed_j")`, compared UNSIGNED (slot values are longs holding
    * unsigned bit patterns; mins start at -1 = unsigned max). The md5-XOR
    * family — one string hash per shingle, k cheap xors — keeps the
    * per-row cost linear in (shingles + k) like the previous XXH64
    * remix, and is exactly reproducible in the DuckDB oracle
    * (xor over ('0x'||substr(md5(s),1,16))::UBIGINT). */
  case class MinHashSig(child: Expression, k: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    @transient private lazy val rands: Array[Long] =
      Array.tabulate(k)(j => md5Hash64(UTF8String.fromString(s"seed_$j")))
    override protected def nullSafeEval(input: Any): Any = kernel(
      input.asInstanceOf[ArrayData])
    def kernel(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      if (n == 0) return new GenericArrayData(Array.emptyLongArray)
      val mins = Array.fill(k)(-1L) // unsigned max
      var i = 0
      while (i < n) {
        val base = md5Hash64(arr.getUTF8String(i))
        var j = 0
        while (j < k) {
          val h = base ^ rands(j)
          if (java.lang.Long.compareUnsigned(h, mins(j)) < 0) mins(j) = h
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    // A CodegenFallback here would knock the WHOLE enclosing operator out
    // of whole-stage codegen (CollapseCodegenStages rejects any operator
    // whose expressions contain one). The loop body stays in compiled
    // Scala; codegen emits a single kernel call on the referenced
    // expression instance — no InternalRow boxing, WSCG span intact.
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("minhashSig", this, classOf[MinHashSig].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
    }
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
    override def prettyName: String = "minhash_sig"
  }

  /** 64-bit SimHash over an array<string> of tokens: bit j of the result
    * is set iff the sum over tokens of ±1 (sign of bit j of the token
    * hash) is positive. Token hash is md5-derived (see [[md5Hash64]])
    * rather than xxhash64 so the DuckDB oracle can reproduce the exact
    * fingerprints — the sign decisions are integer-exact either way. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(kernel(input.asInstanceOf[ArrayData]))
    def kernel(arr: ArrayData): Long = {
      val n = arr.numElements()
      val counts = new Array[Int](64)
      var i = 0
      while (i < n) {
        val h = md5Hash64(arr.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
        i += 1
      }
      var fp = 0L
      var j = 0
      while (j < 64) {
        if (counts(j) > 0) fp |= (1L << j)
        j += 1
      }
      fp
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
    }
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
    override def prettyName: String = "simhash64"
  }

  /** Character-level Shannon entropy + distinct-char count as one struct,
    * one tight JVM loop per row.
    *
    * The HOF formulation (`aggregate` over `array_sort(array_distinct(
    * split(text, '')))` with a `filter` count per distinct char) computes
    * the same value but pays O(uniq × len) interpreted lambda frames per
    * document — measured 22.8s for the sf0.1 bench row, the slowest query
    * in the suite by 8×. This expression is a single code-point pass plus
    * a ~30-entry sorted-map walk: sub-second at the same scale.
    *
    * Mirror contract (same value the DuckDB oracle computes): counts are
    * per Unicode CODE POINT (DuckDB's string_split(text,'') is
    * per-character, not per UTF-16 unit); terms are folded in ascending
    * code-point order — the list_sort(list_distinct(...)) order — as
    * `acc - p*log2(p)`; log2 is Math.log(p)/Math.log(2.0), the same
    * derivation Spark's `log2` built-in uses, agreeing with DuckDB's
    * log2 within an ulp (callers round, see text_entropy). */
  case class CharEntropy(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(Seq(
      StructField("n_uniq_chars", LongType, nullable = false),
      StructField("char_entropy", DoubleType, nullable = false)))
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[UTF8String])
    def kernel(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val s = u.toString
      val counts = new java.util.TreeMap[Int, Int]()
      var n = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        // Scala unboxes an absent (null) value to 0, so prev+1 covers both
        val prev: Int = counts.get(cp)
        counts.put(cp, prev + 1)
        n += 1
        i += Character.charCount(cp)
      }
      var ent = 0.0
      if (n > 0) {
        val it = counts.values().iterator()
        while (it.hasNext) {
          val p = it.next().toDouble / n
          ent -= p * (Math.log(p) / Math.log(2.0))
        }
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](counts.size().toLong, ent))
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("charEntropy", this, classOf[CharEntropy].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
    }
    override protected def withNewChildInternal(c: Expression): CharEntropy = copy(child = c)
    override def prettyName: String = "char_entropy"
  }

  /** Unicode normalization (java.text.Normalizer) as a native codegen'd
    * expression — the canonicalization step a web corpus needs BEFORE any
    * hashing: visually identical texts ("café" precomposed U+00E9 vs
    * decomposed e+U+0301) otherwise land in different dedup buckets and
    * tokenize differently. NFC mirrors DuckDB's nfc_normalize bit-for-bit
    * (the oracle); NFD/NFKC/NFKD have no DuckDB twin and are pinned by
    * spec constants (the xxhash64 precedent). Already-normalized input
    * (the overwhelming common case on real text) returns the original
    * UTF8String without re-encoding — isNormalized is a cheap scan. */
  case class UnicodeNormalize(child: Expression, form: String)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullIntolerant: Boolean = true
    private val nf = java.text.Normalizer.Form.valueOf(form)
    override protected def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[UTF8String])
    def kernel(u: UTF8String): UTF8String = {
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s, nf)) u
      else UTF8String.fromString(java.text.Normalizer.normalize(s, nf))
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("unicodeNormalize", this,
        classOf[UnicodeNormalize].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
    }
    override protected def withNewChildInternal(c: Expression): UnicodeNormalize =
      copy(child = c)
    override def prettyName: String = "unicode_normalize"
  }

  /** Word n-gram shingles of a text column in one pass: lowercase, split
    * on non-[a-z0-9] runs, join n consecutive tokens with a space. Exactly
    * mirrors `list_distinct(list_transform(...))` over
    * `string_split_regex(lower(text), '[^a-z0-9]+')` in the DuckDB oracle.
    * With `distinct = false` and n = 1 this is plain tokenization.
    *
    * Native rather than split/transform/concat_ws HOFs because shingling
    * runs under filters that Catalyst pushes below repartition exchanges —
    * wherever it lands, a single compiled scan per row stays cheap. */
  case class WordShingles(child: Expression, n: Int, distinct: Boolean)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    require(n >= 1)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[UTF8String])
    def kernel(u: UTF8String): ArrayData = {
      val tokens = HashExpressions.tokenizeLower(u)
      val out =
        if (tokens.length < n) Seq.empty[String]
        else {
          val sb = new StringBuilder
          (0 to tokens.length - n).map { j =>
            sb.clear()
            var k2 = 0
            while (k2 < n) {
              if (k2 > 0) sb.append(' ')
              sb.append(tokens(j + k2)); k2 += 1
            }
            sb.toString()
          }
        }
      val fin = if (distinct) out.distinct else out
      new GenericArrayData(fin.map(UTF8String.fromString).toArray[Any])
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
    }
    override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
    override def prettyName: String = "word_shingles"
  }

  /** gcd/lcm — scalar functions DataFusion ships (SURVEY §2.8 math
    * family) that Spark lacks; the Euclid loop inlines directly into
    * generated code. */
  case class Gcd(left: Expression, right: Expression)
      extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    @annotation.tailrec
    private def gcd(a: Long, b: Long): Long = if (b == 0) math.abs(a) else gcd(b, a % b)
    override protected def nullSafeEval(a: Any, b: Any): Any =
      java.lang.Long.valueOf(gcd(a.asInstanceOf[Long], b.asInstanceOf[Long]))
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        val t = ctx.freshName("t")
        s"""
           |long $x = $a; long $y = $b;
           |while ($y != 0L) { long $t = $x % $y; $x = $y; $y = $t; }
           |${ev.value} = java.lang.Math.abs($x);
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Gcd =
      copy(left = l, right = r)
    override def prettyName: String = "num_gcd"
  }

  case class Lcm(left: Expression, right: Expression)
      extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    @annotation.tailrec
    private def gcd(a: Long, b: Long): Long = if (b == 0) math.abs(a) else gcd(b, a % b)
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val (x, y) = (a.asInstanceOf[Long], b.asInstanceOf[Long])
      java.lang.Long.valueOf(if (x == 0 || y == 0) 0L else math.abs(x / gcd(x, y) * y))
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        val t = ctx.freshName("t")
        s"""
           |if ($a == 0L || $b == 0L) { ${ev.value} = 0L; } else {
           |  long $x = $a; long $y = $b;
           |  while ($y != 0L) { long $t = $x % $y; $x = $y; $y = $t; }
           |  ${ev.value} = java.lang.Math.abs($a / $x * $b);
           |}
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Lcm =
      copy(left = l, right = r)
    override def prettyName: String = "num_lcm"
  }

  def num_gcd(a: Column, b: Column): Column =
    Bridge.column(Gcd(Bridge.expression(a), Bridge.expression(b)))
  def num_lcm(a: Column, b: Column): Column =
    Bridge.column(Lcm(Bridge.expression(a), Bridge.expression(b)))

  /** Dot product of two float-array columns, accumulated in double — one
    * fused loop per pair instead of zip_with + aggregate HOF frames.
    * Mismatched lengths evaluate over the common prefix. */
  case class DotF32(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      java.lang.Double.valueOf(DotF32.kernel(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
    // The hot kernel of the whole similarity family (every ANN variant,
    // norms, cosine). Generated code CALLS the compiled kernel rather
    // than inlining the loop: cosine expands to three dots per pair, and
    // three inlined loops pushed the enclosing generated method past
    // HotSpot's huge-method JIT limit — measured 20-35% SLOWER on
    // ann_bruteforce/ann_ivf than the fallback it replaced. One small
    // call keeps the generated method compilable and the loop lives in
    // one shared JIT-hot Scala method.
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val mod = DotF32.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $mod.kernel($a, $b);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF32 =
      copy(left = l, right = r)
    override def prettyName: String = "dot_f32"
  }

  object DotF32 {
    def kernel(x: ArrayData, y: ArrayData): Double = {
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      acc
    }
  }

  def dot_f32(a: Column, b: Column): Column =
    Bridge.column(DotF32(Bridge.expression(a), Bridge.expression(b)))

  /** Jaccard similarity of two string arrays — the verify kernel of the
    * whole MinHash dedup family. Exact mirror of the composed form
    * `size(array_intersect(a,b)) / (size(a)+size(b)-size(array_intersect))`:
    * intersection counts DISTINCT shared elements (array_intersect
    * semantics), the union denominator uses RAW sizes, union 0 → 0.0.
    *
    * Why native: the composed form repeats `array_intersect` three times
    * inside one expression, and when the ≥0.7 filter sits directly on a
    * join output Catalyst pushes it into the SortMergeJoin CONDITION,
    * where it evaluates interpreted with no subexpression elimination —
    * three hash-set builds per candidate pair, measured ~310µs/pair
    * (~80s of the dedup_incremental_minhash 100× probe wall, same order
    * on dedup_minhash_lsh). This kernel builds one set per pair and
    * counts removals in one pass; the generated code calls the compiled
    * kernel (the DotF32 huge-method note applies). */
  case class JaccardSim(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(StringType), ArrayType(StringType))
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(a: Any, b: Any): Any =
      java.lang.Double.valueOf(JaccardSim.kernel(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val mod = JaccardSim.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $mod.kernel($a, $b);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSim =
      copy(left = l, right = r)
    override def prettyName: String = "jaccard_sim"
  }

  object JaccardSim {
    def kernel(a: ArrayData, b: ArrayData): Double = {
      val na = a.numElements()
      val nb = b.numElements()
      if (na == 0 && nb == 0) return 0.0
      // set from the smaller side (dedups it), count distinct matches by
      // REMOVAL so duplicates on the probe side aren't double-counted —
      // exactly array_intersect's distinct-intersection cardinality.
      // NULL slots are guarded explicitly (ADVICE r10): an Unsafe array's
      // getUTF8String on a null slot is layout-dependent garbage, so
      // without the isNullAt checks the result could vary by physical
      // representation. array_intersect treats null as ONE distinct
      // value present on both sides — mirrored here via the hasNull
      // flag (set side dedups its nulls; probe side consumes once).
      val (s, t, ns, nt) = if (na <= nb) (a, b, na, nb) else (b, a, nb, na)
      val set = new java.util.HashSet[UTF8String](ns * 2)
      var hasNull = false
      var i = 0
      while (i < ns) {
        if (s.isNullAt(i)) hasNull = true else set.add(s.getUTF8String(i))
        i += 1
      }
      var inter = 0
      i = 0
      while (i < nt) {
        if (t.isNullAt(i)) {
          if (hasNull) { inter += 1; hasNull = false }
        } else if (set.remove(t.getUTF8String(i))) inter += 1
        i += 1
      }
      val union = (na + nb - inter).toDouble
      if (union == 0) 0.0 else inter / union
    }
  }

  def jaccard_sim(a: Column, b: Column): Column =
    Bridge.column(JaccardSim(Bridge.expression(a), Bridge.expression(b)))

  /** Random-hyperplane LSH signature over an array<float>: bit j is set
    * iff `sum_i floor(v_i * 1000 + 0.5) * h_ji > 0`, where h_ji = +1 iff
    * the first hex digit of md5("j_i") is even. Replaces a nested
    * interpreted HOF (one lambda frame per (bit × dim) per row) with one
    * compiled loop. Two deliberate choices make it oracle-checkable:
    *  - quantizing to integers makes the sign decision exact — no
    *    float-summation-order divergence between engines. The tie rule is
    *    floor(x + 0.5) (half-toward-+∞) SPELLED OUT on both sides, because
    *    v*1000 CAN sit exactly on a .5 tie (0.0625f*1000 = 62.5 is
    *    representable) and the engines' default round() disagree there
    *    (JVM rint = half-to-even, DuckDB round = half-away-from-zero);
    *  - md5 (unlike xxhash64) exists in DuckDB, so the same hyperplanes
    *    are expressible in the oracle SQL.
    * The sign matrix is derived, not broadcast — identical on every
    * executor. Dims beyond [[MaxDims]] REJECT loudly: a silent fold-back
    * would diverge from the (unfolded) DuckDB mirror. */
  case class HyperplaneSig(child: Expression, bits: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
    require(bits >= 1 && bits <= 63)
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    @transient private lazy val signs: Array[Array[Byte]] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(bits, MaxDims) { (j, i) =>
        val d = md.digest(s"${j}_${i}".getBytes("UTF-8"))
        if ((((d(0) >> 4) & 0xf) & 1) == 0) 1.toByte else (-1).toByte
      }
    }
    override protected def nullSafeEval(input: Any): Any =
      java.lang.Long.valueOf(kernel(input.asInstanceOf[ArrayData]))
    def kernel(arr: ArrayData): Long = {
      val n = arr.numElements()
      require(n <= MaxDims,
        s"hyperplane_sig supports up to $MaxDims dims, got $n (the DuckDB mirror is unfolded)")
      val quant = new Array[Long](n)
      var i = 0
      while (i < n) {
        quant(i) = math.floor(arr.getFloat(i).toDouble * 1000 + 0.5).toLong
        i += 1
      }
      var fp = 0L
      var j = 0
      while (j < bits) {
        val hs = signs(j)
        var acc = 0L
        i = 0
        while (i < n) { acc += quant(i) * hs(i); i += 1 }
        if (acc > 0) fp |= (1L << j)
        j += 1
      }
      fp
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hyperplaneSig", this, classOf[HyperplaneSig].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
    }
    override protected def withNewChildInternal(c: Expression): HyperplaneSig = copy(child = c)
    override def prettyName: String = "hyperplane_sig"
  }

  private val MaxDims = 1024

  /** md5-derived bucket in [0, mod): first 8 hex chars of md5 as a long —
    * the canonical cross-engine bucket family. DuckDB mirror:
    * ('0x' || substr(md5(x), 1, 8))::BIGINT % mod. */
  def md5Bucket(c: Column, mod: Int): Column = {
    import org.apache.spark.sql.functions._
    pmod(conv(substring(md5(c), 1, 8), 16, 10).cast("long"), lit(mod))
  }

  /** 60-bit BIGINT prefix of a 32-hex digest column — the slim exchange
    * key for hash-bucketed candidate generation (LSH band keys,
    * winnowing postings): 8 bytes per row on the wire instead of the
    * 36-byte hex string, measured 10-40% off the LSH-family shuffles
    * when it replaced the band keys in r11 (acf1768). 15 hex chars keep
    * Spark's `conv()` inside the signed-long range (the scale-probe
    * checksum precedent); DuckDB reproduces it bit-for-bit as
    * `('0x' || substr(h, 1, 15))::BIGINT`.
    *
    * COLLISION-SAFETY RULE — use this ONLY where a 60-bit prefix
    * collision merely merges two buckets / admits extra candidate pairs
    * that a downstream EXACT verify (Jaccard re-check, shared-count
    * admission over identically-derived keys) adjudicates, so results
    * are unchanged — and the oracle derives the same prefix, so buckets
    * stay bit-identical in both engines even when a collision fires.
    * NEVER apply it to a VERDICT-BEARING digest (dedup_exact /
    * text_line_dedup / mm_payload_dedup content hashes, decontamination
    * membership hashes, dataset-diff content compares): there a
    * collision merges DISTINCT content into one verdict and silently
    * changes the answer. */
  def md5Prefix60(hex32: Column): Column = {
    import org.apache.spark.sql.functions._
    conv(substring(hex32, 1, 15), 16, 10).cast("long")
  }

  /** Per-document token statistics in one compiled pass: token count,
    * distinct-token count, and the modal token with its count —
    * struct(n_words, n_distinct, top_word, top_cnt). Tokens are the
    * [[tokenizeLower]] stream ([a-z0-9]+ runs of the lowercased text),
    * identical to `list_filter(string_split_regex(lower(text),
    * '[^a-z0-9]+'), x -> length(x) > 0)` in the DuckDB oracle. Tie rule
    * for the mode: LOWEST token in binary order (all-ASCII alphabet, so
    * Java, UTF8String and DuckDB collation agree) — the
    * `ORDER BY cnt DESC, w` rule the window formulation used.
    *
    * Exists because the explode → groupBy(doc, w) → window/agg
    * formulation shuffles every token OCCURRENCE corpus-wide twice
    * (measured 297.7 MB at the 100× shard for `mm_caption_filter`
    * alone) to compute a quantity that never leaves its row. Same move
    * as [[CharEntropy]]. Empty/whitespace-only text yields
    * (0, 0, "", 0) — callers gate on n_words where the old frames
    * dropped token-less docs. */
  case class TokenStats(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(Seq(
      StructField("n_words", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("top_word", StringType, nullable = false),
      StructField("top_cnt", LongType, nullable = false)))
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[UTF8String])
    def kernel(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val tokens = HashExpressions.tokenizeLower(u)
      val counts = new java.util.HashMap[String, Int]()
      var i = 0
      while (i < tokens.length) {
        val t = tokens(i)
        // explicit missing-key default: the old `counts.get(t)` only
        // worked because BoxesRunTime unboxes a null Integer to 0 — a
        // behavior a refactor to another map type would silently lose
        val prev = counts.getOrDefault(t, 0)
        counts.put(t, prev + 1)
        i += 1
      }
      var topWord = ""
      var topCnt = 0
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > topCnt ||
            (e.getValue == topCnt && topCnt > 0 && e.getKey.compareTo(topWord) < 0)) {
          topWord = e.getKey; topCnt = e.getValue
        }
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](tokens.length.toLong, counts.size().toLong,
          UTF8String.fromString(topWord), topCnt.toLong))
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("tokenStats", this, classOf[TokenStats].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
    }
    override protected def withNewChildInternal(c: Expression): TokenStats =
      copy(child = c)
    override def prettyName: String = "token_stats"
  }

  def token_stats(c: Column): Column =
    Bridge.column(TokenStats(Bridge.expression(c)))

  /** Winnowing selection (MOSS, k-word grams, window w) in one compiled
    * pass: struct(n_grams, sel) where sel is the distinct (h, pos)
    * window-minimum fingerprint list. Replaces the per-row HOF chain
    * (split → transform(sequence)+slice+md5 per gram → per-window
    * array_min over slice → array_distinct), whose interpreted lambda
    * frames held the two winnowing bench rows at ~2.9s/2.1s — the
    * CharEntropy/CdcCuts move.
    *
    * Exact mirror contract (pinned by ExtensionSpec's plain-Scala
    * recount + leftmost-tie fixture + PropertySpec's MOSS guarantee,
    * and the independent DuckDB window formulation):
    *  - words = split(text, " ") with EMPTY TOKENS KEPT (plain space
    *    split, NOT tokenizeLower — winnowing fingerprints the raw
    *    word stream);
    *  - n_grams = max(words − (k−1), 0); callers filter n_grams ≥ w;
    *  - gram i (1-based pos) = lowercase md5 hex of the k words joined
    *    by ' ';
    *  - window minimum by (h asc, pos asc) — hex is ASCII so string
    *    order = binary order, and strict-less keeps the LEFTMOST of
    *    equal hashes (real for word-soup docs);
    *  - sel keeps first-occurrence order (array_distinct semantics). */
  case class WinnowSel(child: Expression, k: Int, w: Int)
      extends UnaryExpression with ExpectsInputTypes {
    require(k >= 1 && w >= 1)
    override def inputTypes: Seq[DataType] = Seq(StringType)
    private val selType = ArrayType(StructType(Seq(
      StructField("h", StringType, nullable = false),
      StructField("pos", LongType, nullable = false))), containsNull = false)
    override def dataType: DataType = StructType(Seq(
      StructField("n_grams", LongType, nullable = false),
      StructField("sel", selType, nullable = false)))
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[UTF8String])
    def kernel(u: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val words = u.toString.split(" ", -1)
      val nGrams = math.max(words.length - (k - 1), 0)
      val sel = new scala.collection.mutable.ArrayBuffer[Any]()
      if (nGrams >= w) {
        val md = md5Local.get()
        val grams = new Array[String](nGrams)
        val sb = new StringBuilder
        var i = 0
        while (i < nGrams) {
          sb.clear()
          var j = 0
          while (j < k) {
            if (j > 0) sb.append(' ')
            sb.append(words(i + j)); j += 1
          }
          md.reset()
          val dig = md.digest(sb.toString.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          val hex = new Array[Char](32)
          var b = 0
          while (b < 16) {
            hex(2 * b) = Character.forDigit((dig(b) >> 4) & 0xf, 16)
            hex(2 * b + 1) = Character.forDigit(dig(b) & 0xf, 16)
            b += 1
          }
          grams(i) = new String(hex)
          i += 1
        }
        val seen = new java.util.HashSet[Long]()
        // window minimum by O(n·w) rescan, NOT a monotonic deque: at the
        // pinned w=4 the rescan is 3 string compares over an L1-resident
        // array — measured fine (the kernel took text_winnowing 31.3 →
        // 6.9s at 100×). If w ever grows past ~16, switch to the
        // monotonic-deque O(n) form — and re-pin the LEFTMOST-tie rule,
        // which the deque must preserve with strict-less eviction.
        var s = 0
        while (s <= nGrams - w) {
          var m = s
          var j = s + 1
          while (j < s + w) {
            if (grams(j).compareTo(grams(m)) < 0) m = j
            j += 1
          }
          // dedup key: pos is unique per candidate, so the long index
          // alone identifies the (h, pos) pair
          if (seen.add(m.toLong))
            sel += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](UTF8String.fromString(grams(m)), (m + 1).toLong))
          s += 1
        }
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](nGrams.toLong, new GenericArrayData(sel.toArray)))
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("winnowSel", this, classOf[WinnowSel].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
    }
    override protected def withNewChildInternal(c: Expression): WinnowSel =
      copy(child = c)
    override def prettyName: String = "winnow_sel"
  }

  def winnow_sel(c: Column, k: Int = 3, w: Int = 4): Column =
    Bridge.column(WinnowSel(Bridge.expression(c), k, w))

  def hyperplane_sig(c: Column, bits: Int): Column =
    Bridge.column(HyperplaneSig(Bridge.expression(c), bits))

  def minhash_sig(c: Column, k: Int = 64): Column =
    Bridge.column(MinHashSig(Bridge.expression(c), k))

  def simhash64(c: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(c)))

  def char_entropy(c: Column): Column =
    Bridge.column(CharEntropy(Bridge.expression(c)))

  def unicode_normalize(c: Column, form: String = "NFC"): Column =
    Bridge.column(UnicodeNormalize(Bridge.expression(c), form))

  /** Content-defined chunk boundaries (`text_cdc_chunks`): 1-based cut
    * positions where the 8-code-point Rabin window Σ code·31^j ≡ 0
    * (mod 64), excluding a cut at the very end (no empty trailing
    * chunk). One code-point pass per row with an exact integer rolling
    * update — h(i+1) = (h(i) − c_i)/31 + c_{i+7}·31⁷, division exact
    * because every remaining term carries the factor 31. The HOF
    * formulation (transform + 8 element_at per window through
    * interpreted lambda frames) was the slowest bench query at 3.3 s;
    * same move as [[CharEntropy]], which measured 62× for this class.
    * Positions are code-point indices, matching `substring`/`length`
    * semantics in BOTH engines (the DuckDB oracle keeps the HOF
    * formulation as the independent mirror). */
  case class CdcCuts(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    private val W = 8
    private val B = 31L
    private val B7 = 27512614111L // 31^7
    override protected def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[UTF8String])
    def kernel(u: UTF8String): ArrayData = {
      val s = u.toString
      // code points, indexed like substring/length count them
      val codes = new Array[Long](s.length)
      var n = 0
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        codes(n) = cp.toLong
        n += 1
        i += Character.charCount(cp)
      }
      if (n < W) return new GenericArrayData(Array.emptyIntArray)
      val cuts = new scala.collection.mutable.ArrayBuffer[Int]()
      var h = 0L
      var j = 0
      while (j < W) { h += codes(j) * pow31(j); j += 1 }
      var start = 0
      while (start <= n - W) {
        // 0-based window start ≡ 1-based i = start+1; cut = i+7 = start+W
        val cut = start + W
        if (h % 64 == 0 && cut < n) cuts += cut
        if (start < n - W)
          h = (h - codes(start)) / B + codes(start + W) * B7
        start += 1
      }
      new GenericArrayData(cuts.toArray)
    }
    private def pow31(j: Int): Long = { var p = 1L; var k = 0
      while (k < j) { p *= B; k += 1 }; p }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cdcCuts", this, classOf[CdcCuts].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
    }
    override protected def withNewChildInternal(c: Expression): CdcCuts = copy(child = c)
    override def prettyName: String = "cdc_cuts"
  }

  def cdc_cuts(c: Column): Column =
    Bridge.column(CdcCuts(Bridge.expression(c)))

  def word_shingles(c: Column, n: Int, distinct: Boolean = true): Column =
    Bridge.column(WordShingles(Bridge.expression(c), n, distinct))

  /** Shared tokenizer of the shingle/tile family: lowercase, maximal
    * [a-z0-9] runs — the exact `split(lower(text), '[^a-z0-9]+')`
    * contract every oracle replays. */
  private[functions] def tokenizeLower(
      u: UTF8String): scala.collection.mutable.ArrayBuffer[String] = {
    val text = u.toLowerCase.toString
    val tokens = new scala.collection.mutable.ArrayBuffer[String]()
    val len = text.length
    var i = 0
    var start = -1
    while (i <= len) {
      val isTok = i < len && {
        val c = text.charAt(i)
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      }
      if (isTok && start < 0) start = i
      else if (!isTok && start >= 0) { tokens += text.substring(start, i); start = -1 }
      i += 1
    }
    tokens
  }

  /** Non-overlapping n-word tiles over the [[tokenizeLower]] token
    * stream — `pipe_span_scrub`'s tiling unit: ceil(tokens/n) tiles, the
    * last one short. The HOF chain this replaces (split → filter →
    * transform(sequence) → slice → array_join, ~5 interpreted lambda
    * frames per tile) ran twice per document (tile frame + reassembly
    * frame) and held the span-scrub bench row at ~2.3 s; one compiled
    * pass per row. Empty/whitespace-only docs yield an EMPTY array (the
    * query's size(..) > 0 filter drops them, mirroring the oracle's
    * `WHERE len(tk) > 0`). */
  case class WordTiles(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    require(n >= 1)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override protected def nullSafeEval(input: Any): Any =
      kernel(input.asInstanceOf[UTF8String])
    def kernel(u: UTF8String): ArrayData = {
      val tokens = HashExpressions.tokenizeLower(u)
      val nt = tokens.length
      val tiles = new Array[Any]((nt + n - 1) / n)
      val sb = new StringBuilder
      var t = 0
      while (t < tiles.length) {
        sb.clear()
        var k = t * n
        val end = math.min(k + n, nt)
        while (k < end) {
          if (k > t * n) sb.append(' ')
          sb.append(tokens(k)); k += 1
        }
        tiles(t) = UTF8String.fromString(sb.toString())
        t += 1
      }
      new GenericArrayData(tiles)
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wordTiles", this, classOf[WordTiles].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.kernel($c);")
    }
    override protected def withNewChildInternal(c: Expression): WordTiles = copy(child = c)
    override def prettyName: String = "word_tiles"
  }

  def word_tiles(c: Column, n: Int): Column =
    Bridge.column(WordTiles(Bridge.expression(c), n))

  /** Bloom-filter membership test against a BROADCAST filter — the
    * map-side prefilter primitive of the scalable decontamination path
    * (`pipe_decontam_bloom`), shaped like Spark's own runtime-filter
    * `BloomFilterMightContain` but fed a driver-built broadcast rather
    * than a ScalarSubquery. A Scala UDF here would pay per-row
    * serialization and break whole-stage codegen on the one stage that
    * exists purely to be cheap (it runs once per gram of the corpus);
    * this expression generates a plain `bloom.mightContainLong(h)` call
    * inside the codegen'd filter, with the broadcast dereferenced ONCE
    * per task into a generated member, not once per row. */
  case class BloomMightContainLong(
      child: Expression,
      bfB: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    @transient private lazy val bf = bfB.value
    override protected def nullSafeEval(h: Any): Any =
      bf.mightContainLong(h.asInstanceOf[Long])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bloomCls = classOf[org.apache.spark.util.sketch.BloomFilter].getName
      val bcastCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
      val bfRef = ctx.addReferenceObj("graftBloomBcast", bfB, bcastCls)
      val bfVar = ctx.addMutableState(bloomCls, "graftBloom",
        v => s"$v = ($bloomCls) $bfRef.value();")
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $bfVar.mightContainLong($c);")
    }
    override protected def withNewChildInternal(c: Expression): BloomMightContainLong =
      copy(child = c)
    override def prettyName: String = "bloom_might_contain_long"
  }

  def bloom_might_contain(
      c: Column,
      bfB: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    Bridge.column(BloomMightContainLong(Bridge.expression(c), bfB))

  /** Array form of the bloom test for ROW-LOCAL pipelines (the streaming
    * decontam path, where exploding grams would force a stateful
    * re-aggregation the append-mode stream can't express): true iff ANY
    * element of an array<bigint> might be in the broadcast filter. One
    * tight loop per row; null elements are skipped (explode_outer parity). */
  case class BloomMightContainAny(
      child: Expression,
      bfB: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    @transient private lazy val bf = bfB.value
    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i) && bf.mightContainLong(arr.getLong(i))) return true
        i += 1
      }
      false
    }
    // Same shape as the scalar sibling: broadcast dereferenced once per
    // task into a generated member, then one tight loop per row inside
    // whole-stage codegen (the CodegenFallback this replaces paid a
    // per-row InternalRow boxing on the streaming decontam filter).
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bloomCls = classOf[org.apache.spark.util.sketch.BloomFilter].getName
      val bcastCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
      val bfRef = ctx.addReferenceObj("graftBloomAnyBcast", bfB, bcastCls)
      val bfVar = ctx.addMutableState(bloomCls, "graftBloomAny",
        v => s"$v = ($bloomCls) $bfRef.value();")
      nullSafeCodeGen(ctx, ev, c => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |final int $n = $c.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  if (!$c.isNullAt($i) && $bfVar.mightContainLong($c.getLong($i))) {
           |    ${ev.value} = true;
           |    break;
           |  }
           |}
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): BloomMightContainAny =
      copy(child = c)
    override def prettyName: String = "bloom_might_contain_any"
  }

  def bloom_might_contain_any(
      c: Column,
      bfB: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    Bridge.column(BloomMightContainAny(Bridge.expression(c), bfB))

  /** Exact membership companion to [[BloomMightContainAny]]: true iff any
    * element of an array<bigint> binary-searches into a broadcast SORTED
    * long array. This is the false-positive killer of the streaming
    * decontam path — it replaces the collect_set-into-one-array-row
    * stream-static crossJoin, which hit the 2 GB single-cell cap and paid
    * an O(|bench|) per-row hash-set rebuild inside arrays_overlap. The
    * broadcast costs 8 bytes/gram exactly, deserializes once per
    * executor, and each gram probes in O(log |bench|). */
  case class SortedLongsContainAny(
      child: Expression,
      arrB: org.apache.spark.broadcast.Broadcast[Array[Long]])
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = BooleanType
    override def nullIntolerant: Boolean = true
    @transient private lazy val sorted = arrB.value
    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i) &&
            java.util.Arrays.binarySearch(sorted, arr.getLong(i)) >= 0) return true
        i += 1
      }
      false
    }
    // Broadcast long[] dereferenced once per task; per row a binary
    // search per element, all inside whole-stage codegen.
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcastCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
      val arrRef = ctx.addReferenceObj("graftSortedBcast", arrB, bcastCls)
      val arrVar = ctx.addMutableState("long[]", "graftSorted",
        v => s"$v = (long[]) $arrRef.value();")
      nullSafeCodeGen(ctx, ev, c => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |final int $n = $c.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  if (!$c.isNullAt($i) &&
           |      java.util.Arrays.binarySearch($arrVar, $c.getLong($i)) >= 0) {
           |    ${ev.value} = true;
           |    break;
           |  }
           |}
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): SortedLongsContainAny =
      copy(child = c)
    override def prettyName: String = "sorted_longs_contain_any"
  }

  def sorted_longs_contain_any(
      c: Column, arrB: org.apache.spark.broadcast.Broadcast[Array[Long]]): Column =
    Bridge.column(SortedLongsContainAny(Bridge.expression(c), arrB))
}
