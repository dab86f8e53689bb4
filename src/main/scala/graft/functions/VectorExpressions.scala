package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions (with whole-stage codegen) for the vector
  * hot paths. The `zip_with`+`aggregate` higher-order-function forms
  * compute the same values but evaluate interpreted lambdas per element
  * (~10× slower, measured at sf0.1); these generate a tight primitive
  * loop inside the surrounding WholeStageCodegen stage. Semantics are
  * bit-identical (sequential left-to-right Long arithmetic), so the
  * DuckDB oracles are unchanged.
  */
object VectorExpressions {

  /** Per-thread MessageDigest cache. `MessageDigest.getInstance` does a
    * provider lookup plus an allocation on every call; on the per-token
    * hot paths (Md5HeadLong feeds the NB/DSIR/SRP bucket of EVERY token,
    * Md5GramKeys every gram position) that was one allocation per
    * evaluation (r17 advice). Instances are cached per (thread, algo) —
    * a plan's expression objects are shared across concurrently running
    * tasks in local mode, so a per-expression mutable field would race,
    * while a thread-local is safe under whole-stage codegen and the
    * interpreted path alike. `reset()` before handing out keeps a
    * half-updated digest from a failed row from leaking into the next.
    *
    * One digest per (thread, algo) means a second holder on the same
    * thread would interleave its updates with the first's and corrupt
    * both (ContentChunks holds its digest across a whole chunk loop). So
    * `get` lends the digest out as a [[Lease]] and a second `get` of the
    * same algorithm before `release()` throws; each caller releases in a
    * `finally`, so a row that fails mid-digest does not leave it lent. */
  private[graft] object Digests {
    final class Lease private[Digests] (val md: java.security.MessageDigest) {
      private[Digests] var held = false
      def release(): Unit = held = false
    }

    private val local =
      new ThreadLocal[java.util.HashMap[String, Lease]] {
        override def initialValue() = new java.util.HashMap[String, Lease](4)
      }

    def get(algo: String): Lease = {
      val m = local.get()
      var lease = m.get(algo)
      if (lease == null) {
        lease = new Lease(java.security.MessageDigest.getInstance(algo))
        m.put(algo, lease)
      }
      if (lease.held) throw new IllegalStateException(
        s"nested Digests.get($algo) on one thread: the $algo digest is already lent out")
      lease.held = true
      lease.md.reset()
      lease
    }
  }

  /** Analysis-time input check shared by the array<bigint> expressions.
    * These are registered on the public SQL surface (GraftFunctions), so
    * a wrong input type must fail descriptively at analysis, not as a
    * runtime ClassCastException. */
  private def requireLongArray(fn: String, dt: DataType): TypeCheckResult =
    dt match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn requires array<bigint> input, got ${other.catalogString}")
    }

  /** Σ a(i)*b(i) over two array<long> (length = min of the two).
    * NULL elements contribute 0 (the pair is skipped). */
  case class LongArrayDot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullable: Boolean = left.nullable || right.nullable

    override def checkInputDataTypes(): TypeCheckResult =
      requireLongArray("dot_longs", left.dataType) match {
        case TypeCheckResult.TypeCheckSuccess =>
          requireLongArray("dot_longs", right.dataType)
        case fail => fail
      }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0L
      var i = 0
      while (i < n) {
        if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getLong(i) * y.getLong(i)
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |long ${ev.value}Acc = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
           |    ${ev.value}Acc += $a.getLong($i) * $b.getLong($i);
           |  }
           |}
           |${ev.value} = ${ev.value}Acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** All-k universal-hash minima in one pass: for each j in [0,k),
    * min over h in child of (a_j*h + b_j) mod p. One traversal of the
    * hashed-shingle array replaces k interpreted `transform`+`array_min`
    * passes. a_j/b_j derive from the same LCG constants as the SQL form. */
  case class UniversalMinHash(child: Expression, k: Int, p: Long)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult =
      requireLongArray("universal_minhash", child.dataType)

    private def aConst(j: Int): Long = 1103515245L * (j + 1) % p
    private def bConst(j: Int): Long = 12345L * (j + 7919) % p

    // NULL elements are skipped (an absent shingle hash contributes no
    // minimum), matching transform+array_min which ignores nulls
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = Array.fill(k)(Long.MaxValue)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val h = arr.getLong(i)
          var j = 0
          while (j < k) {
            val cand = (aConst(j) * h + bConst(j)) % p
            if (cand < out(j)) out(j) = cand
            j += 1
          }
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val h = ctx.freshName("h")
        val out = ctx.freshName("out")
        val cand = ctx.freshName("cand")
        val as = ctx.freshName("as")
        val bs = ctx.freshName("bs")
        val aInit = (0 until k).map(aConst).mkString("{", "L,", "L}")
        val bInit = (0 until k).map(bConst).mkString("{", "L,", "L}")
        s"""
           |long[] $out = new long[$k];
           |java.util.Arrays.fill($out, Long.MAX_VALUE);
           |final long[] $as = $aInit;
           |final long[] $bs = $bInit;
           |for (int $i = 0; $i < $c.numElements(); $i++) {
           |  if ($c.isNullAt($i)) continue;
           |  long $h = $c.getLong($i);
           |  for (int $j = 0; $j < $k; $j++) {
           |    long $cand = ($as[$j] * $h + $bs[$j]) % ${p}L;
           |    if ($cand < $out[$j]) $out[$j] = $cand;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** All LSH sign-random-projection bucket ids in ONE pass over the
    * quantized vector: for hash table t in [0,nTables), bucket_t has bit
    * p set iff Σ_i w(g,i)·q(i) > 0 for global plane g = t·nPlanes+p, with
    * ±1 weight w(g,i) = parity of an LCG step at (g·dim+i) — the same
    * constants the SQL/DuckDB-oracle form uses, so semantics (and the
    * oracle) are unchanged. The per-plane weight signs are precomputed
    * into one 64-bit mask per plane (dim ≤ 64); the generated code is a
    * tight two-level primitive loop inside WholeStageCodegen, replacing
    * nTables×nPlanes interpreted `zip_with`+`aggregate` lambdas (~10×,
    * the same measured gap as LongArrayDot vs its HOF form). */
  case class SignRandomProjection(child: Expression, nTables: Int,
      nPlanes: Int, dim: Int) extends UnaryExpression {
    require(dim <= 64, "plane weight mask packs one sign bit per dim into a Long")
    require(nPlanes <= 62, "bucket id must fit a Long")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult =
      requireLongArray("sign_buckets", child.dataType)

    private def positiveWeight(g: Int, i: Int): Boolean =
      ((g.toLong * dim + i) * 1103515245L + 12345L) % 65536L < 32768L

    private lazy val masks: Array[Long] = Array.tabulate(nTables * nPlanes) { g =>
      (0 until dim).foldLeft(0L) { (m, i) =>
        if (positiveWeight(g, i)) m | (1L << i) else m
      }
    }

    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(arr.numElements(), dim)
      val planes = nTables * nPlanes
      val acc = new Array[Long](planes)
      var i = 0
      // NULL elements are skipped (a missing dim contributes 0 to every plane)
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val x = arr.getLong(i)
          var g = 0
          while (g < planes) {
            acc(g) += (if (((masks(g) >>> i) & 1L) == 1L) x else -x)
            g += 1
          }
        }
        i += 1
      }
      val out = new Array[Long](nTables)
      var t = 0
      while (t < nTables) {
        var b = 0L
        var p = 0
        while (p < nPlanes) {
          if (acc(t * nPlanes + p) > 0L) b |= (1L << p)
          p += 1
        }
        out(t) = b
        t += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val planes = nTables * nPlanes
        val maskInit = masks.mkString("{", "L,", "L}")
        val ms = ctx.freshName("masks")
        val acc = ctx.freshName("acc")
        val out = ctx.freshName("out")
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val g = ctx.freshName("g")
        val t = ctx.freshName("t")
        val p = ctx.freshName("p")
        val x = ctx.freshName("x")
        val b = ctx.freshName("b")
        s"""
           |final long[] $ms = $maskInit;
           |long[] $acc = new long[$planes];
           |int $n = java.lang.Math.min($c.numElements(), $dim);
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($c.isNullAt($i)) continue;
           |  long $x = $c.getLong($i);
           |  for (int $g = 0; $g < $planes; $g++) {
           |    $acc[$g] += ((($ms[$g] >>> $i) & 1L) == 1L) ? $x : -$x;
           |  }
           |}
           |long[] $out = new long[$nTables];
           |for (int $t = 0; $t < $nTables; $t++) {
           |  long $b = 0L;
           |  for (int $p = 0; $p < $nPlanes; $p++) {
           |    if ($acc[$t * $nPlanes + $p] > 0L) $b |= (1L << $p);
           |  }
           |  $out[$t] = $b;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Contiguous word n-grams ("shingles") of a space-separated text in
    * one pass: split on single spaces (trailing empties kept — the exact
    * semantics of `split(text, ' ')` and DuckDB's string_split), join n
    * consecutive words with a space, optionally de-duplicate keeping
    * first-occurrence order (= `array_distinct`). Replaces the
    * interpreted `transform(sequence(...), i -> concat_ws(' ',
    * slice(words, i+1, n)))` HOF — one lambda dispatch per position per
    * row — with a compiled loop; the equivalence is pinned in
    * VectorExpressionsSpec. The caller guards size(words) >= n (as the
    * HOF pipeline and the oracle both do); shorter inputs yield an
    * empty array here rather than throwing. */
  case class WordShingles(child: Expression, n: Int, distinct: Boolean)
      extends UnaryExpression {
    require(n >= 1)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_shingles requires a string input, got ${other.catalogString}")
    }

    def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
      val words = s.toString.split(" ", -1)
      if (words.length < n) return new GenericArrayData(Array.empty[Any])
      val count = words.length - n + 1
      val sb = new java.lang.StringBuilder
      if (distinct) {
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i < count) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(words(i + j)); j += 1
          }
          seen.add(sb.toString)
          i += 1
        }
        val out = new Array[Any](seen.size)
        val it = seen.iterator()
        var k = 0
        while (it.hasNext) {
          out(k) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
          k += 1
        }
        new GenericArrayData(out)
      } else {
        val out = new Array[Any](count)
        var i = 0
        while (i < count) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(words(i + j)); j += 1
          }
          out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
          i += 1
        }
        new GenericArrayData(out)
      }
    }

    override def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // the loop body lives in compiled Scala (`compute`); embedding a
      // reference keeps the call inside the WholeStageCodegen stage
      val ref = ctx.addReferenceObj("shingler", this, classOf[WordShingles].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Per-element `pmod(xxhash64(s), p)` over an array<string> in one
    * compiled pass — hash values come from Spark's own XxHash64Function
    * (seed 42, the `xxhash64` SQL builtin), so results are bit-identical
    * to the interpreted `transform(arr, x -> pmod(xxhash64(x), p))` HOF
    * it replaces (equivalence pinned in VectorExpressionsSpec). */
  case class XxHashModArray(child: Expression, p: Long)
      extends UnaryExpression {
    require(p > 0)
    // a NULL input element propagates as a NULL output element (the
    // behavior of the transform+xxhash64 HOF this replaces), so
    // containsNull mirrors the child's element nullability
    override def dataType: DataType = ArrayType(LongType,
      containsNull = child.dataType match {
        case ArrayType(_, cn) => cn
        case _ => true
      })
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"xxhash_mod_array requires array<string> input, got ${other.catalogString}")
    }

    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        if (arr.isNullAt(i)) out(i) = null
        else {
          val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(arr.getUTF8String(i), StringType, 42L)
          val m = h % p
          out(i) = if (m < 0) m + p else m // pmod
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("hasher", this, classOf[XxHashModArray].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Full (is_hot, xxhash64, value)-ordered hash-key array for prefix-
    * filtered set-similarity joins: every element's xxhash64 key (seed
    * 42, the `xxhash64` builtin) in that order — hot shingles LAST so
    * df-capped posting lists never enter a prefix, everything else in a
    * fixed pseudo-random order. One compiled pass replaces a
    * transform→array_sort→transform HOF chain whose interpreted
    * per-element lambdas measured ~8 s alone at sf0.1. `hot` is
    * expected df-capped tiny (it rides a broadcast). One `posexplode` over the result yields both join keys
    * (hk) and the element's RANK in the global prefix order (pos), which
    * is what the PPJoin positional filter needs on BOTH sides of the
    * candidate join: a pair's first common element at ranks (i, j)
    * bounds the overlap by min(|A|−i, |B|−j), so candidates whose match
    * sits too deep in either order are pruned in the join condition
    * itself. The order equals the HOF sort's (equivalence pinned in
    * VectorExpressionsSpec), so `filter(pos < |S| − ceil(t·|S|) + 1)`
    * over this explode IS the prefix relation. Null elements are
    * skipped; size(result) is the element count the theorem sees. */
  case class HashOrderKeys(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = left.nullable || right.nullable

    private def requireStringArray(dt: DataType): TypeCheckResult = dt match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hash_order_keys requires array<string> input, got ${other.catalogString}")
    }
    override def checkInputDataTypes(): TypeCheckResult =
      requireStringArray(left.dataType) match {
        case TypeCheckResult.TypeCheckSuccess => requireStringArray(right.dataType)
        case fail => fail
      }

    def compute(shinglesArr: ArrayData, hotArr: ArrayData): ArrayData = {
      import org.apache.spark.unsafe.types.UTF8String
      val n = shinglesArr.numElements()
      val hot = new java.util.HashSet[UTF8String](math.max(8, hotArr.numElements() * 2))
      var i = 0
      while (i < hotArr.numElements()) {
        if (!hotArr.isNullAt(i)) hot.add(hotArr.getUTF8String(i))
        i += 1
      }
      val strs = new Array[UTF8String](n)
      val keys = new Array[Long](n)
      val isHot = new Array[Boolean](n)
      var m = 0 // null elements are skipped
      i = 0
      while (i < n) {
        if (!shinglesArr.isNullAt(i)) {
          val s = shinglesArr.getUTF8String(i)
          strs(m) = s
          keys(m) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
            .hash(s, StringType, 42L)
          isHot(m) = hot.contains(s)
          m += 1
        }
        i += 1
      }
      val idx = Array.tabulate[Integer](m)(Integer.valueOf)
      java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
        val ha = isHot(a); val hb = isHot(b)
        if (ha != hb) { if (ha) 1 else -1 }
        else {
          val c = java.lang.Long.compare(keys(a), keys(b))
          if (c != 0) c else strs(a).compareTo(strs(b))
        }
      })
      val out = new Array[Any](m)
      i = 0
      while (i < m) { out(i) = keys(idx(i)); i += 1 }
      new GenericArrayData(out)
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("keyer", this, classOf[HashOrderKeys].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** MULTISET intersection count over two array<long> values —
    * Σ_k min(mult_A(k), mult_B(k)) — in one compiled pass: hash-map
    * build over the smaller array, decrement-on-hit probe with the
    * larger. Exists as the cheap PRE-verify for candidate pairs in
    * set-similarity joins: counting 8-byte keys beats `array_intersect`
    * over ~25-byte UTF8 shingle strings ~an order of magnitude, and the
    * multiset count is PROVABLY ≥ the exact distinct-element
    * intersection of the pre-hash sets: each exact common element is
    * one occurrence of its key on each side, and distinct occurrences
    * map to distinct min-budget — so even when a hash collision folds
    * two distinct elements onto one key the count never drops below the
    * exact one (a set-semantics count WOULD undercount there).
    * Filtering on it therefore keeps every true pair (lossless) and
    * the exact string verify runs over survivors only. */
  case class LongArrayIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = left.nullable || right.nullable

    override def checkInputDataTypes(): TypeCheckResult =
      requireLongArray("long_array_intersect_count", left.dataType) match {
        case TypeCheckResult.TypeCheckSuccess =>
          requireLongArray("long_array_intersect_count", right.dataType)
        case fail => fail
      }

    def compute(a: ArrayData, b: ArrayData): Int = {
      val (small, large) =
        if (a.numElements() <= b.numElements()) (a, b) else (b, a)
      val counts = new java.util.HashMap[java.lang.Long, Integer](
        small.numElements() * 2)
      var i = 0
      while (i < small.numElements()) {
        if (!small.isNullAt(i))
          counts.merge(small.getLong(i), 1, (x, y) => x + y)
        i += 1
      }
      var c = 0
      i = 0
      while (i < large.numElements()) {
        if (!large.isNullAt(i)) {
          val k: java.lang.Long = large.getLong(i)
          val cur = counts.get(k)
          if (cur != null && cur > 0) { counts.put(k, cur - 1); c += 1 }
        }
        i += 1
      }
      c
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("counter", this,
        classOf[LongArrayIntersectCount].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Content-defined chunk fingerprints of a binary blob — the
    * PRODUCTION rolling-hash path of the CDC chunker (the swap the
    * md5-per-offset stand-in documented; reference behavior:
    * rsync/LBFS, Muthitacharoen et al. SOSP'01).
    *
    * Boundary rule, deliberately window-local so DuckDB replays it
    * per-offset with plain integer arithmetic: a chunk boundary sits
    * before byte index i (i ∈ [8, nb]) iff
    *
    *   ((Σ_{j=0..7} B[i−8+j] · 257^{7−j}) mod 1000003) % 16 == 0
    *
    * over UNSIGNED byte values — a degree-7 polynomial hash of the
    * trailing 8-byte window, expected boundary rate 1/16 (the same rate
    * the md5 first-hex-nibble rule had). The prime modulus is essential:
    * 257 ≡ 1 (mod 16), so reducing mod 16 directly would degenerate to
    * a shift-invariant byte-sum. The ENGINE computes the same values
    * with the O(1)-per-byte Rabin-style rolling update
    * h ← ((h − B[i−8]·257⁷) · 257 + B[i]) mod 1000003 in one compiled
    * pass per row (this expression); the interpreted per-offset
    * `transform`/`filter` formulation it replaces measured ~6× the
    * per-chunk fixed-offset cost at sf0.1. Chunk fingerprint = md5 hex
    * of the chunk's lowercase-hex encoding, matching the oracle's
    * `md5(substr(hx, st*2+1, (en−st)*2))`. Blobs shorter than the
    * 8-byte window yield an empty array (callers filter them, keeping
    * the declared-query contract). */
  case class ContentChunks(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"content_chunks requires a binary input, got ${other.catalogString}")
    }

    private val M = 1000003L   // prime modulus (non-16-aligned residue)
    private val C0 = 709659L   // 257^7 mod M — the drop-out coefficient
    private val Win = 8
    private val HexChars = "0123456789abcdef".toCharArray

    def compute(bin: Array[Byte]): ArrayData = {
      val nb = bin.length
      if (nb < Win) return new GenericArrayData(Array.empty[Any])
      // hex as ASCII BYTES: md5 of a hex string digests its UTF-8 bytes,
      // and hex chars are ASCII, so digesting this array's slice directly
      // equals md5(new String(...).getBytes(UTF_8)) while skipping the
      // per-chunk String + getBytes allocations (r18, guide §1.2)
      val hx = new Array[Byte](nb * 2)
      var t = 0
      while (t < nb) {
        val b = bin(t) & 0xFF
        hx(2 * t) = HexChars(b >> 4).toByte
        hx(2 * t + 1) = HexChars(b & 0xF).toByte
        t += 1
      }
      // h = hash of the window ending at byte i-1, initialized for i=8
      var h = 0L
      var j = 0
      while (j < Win) { h = (h * 257L + (bin(j) & 0xFF)) % M; j += 1 }
      val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = Win
      while (i <= nb) {
        if (h % 16L == 0L) bounds += i
        if (i < nb) {
          val drop = ((bin(i - Win) & 0xFF) * C0) % M
          h = ((h - drop + M) * 257L + (bin(i) & 0xFF)) % M
        }
        i += 1
      }
      val lease = Digests.get("MD5")
      try {
        val md = lease.md
        val out = scala.collection.mutable.ArrayBuffer.empty[Any]
        var st = 0
        var k = 0
        while (k <= bounds.length) {
          val en = if (k < bounds.length) bounds(k) else nb
          if (en > st) {
            md.reset()
            md.update(hx, st * 2, (en - st) * 2)
            val digest = md.digest()
            val fp = new Array[Char](32)
            var d = 0
            while (d < 16) {
              fp(2 * d) = HexChars((digest(d) >> 4) & 0xF)
              fp(2 * d + 1) = HexChars(digest(d) & 0xF)
              d += 1
            }
            out += org.apache.spark.unsafe.types.UTF8String.fromString(new String(fp))
          }
          st = en
          k += 1
        }
        new GenericArrayData(out.toArray)
      } finally lease.release()
    }

    override def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[Array[Byte]])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("chunker", this, classOf[ContentChunks].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Per-document SimHash signature in ONE compiled pass over a
    * feature array — fuses the (optional) md5, the 32-bit word
    * extraction, the ±1 bit votes, and the majority sign into a
    * map-side expression. A SimHash signature is a pure per-row
    * function of the document's feature multiset, so the explode →
    * shuffle → 64/128-column vote aggregate it replaces was paying a
    * corpus-wide shuffle for per-row work (measured: `dedup_simhash128`
    * 3.2 → ~1 s at sf0.1; the banded pair join becomes the plan's ONLY
    * shuffle). `wordOrder(j)` names which 32-bit md5 word supplies vote
    * bits 32j..32j+31, preserving each width's historical layout
    * (64-bit: Seq(1, 0) — low signature word votes from hex chars
    * 9–16; 128-bit: Seq(0, 1, 2, 3)). Output: array<long> of 64-bit
    * signature words, little-endian (element 1 = bits 0..63, element
    * 2 = bits 64..127). `hashInput=true` hashes each element first with
    * `algo` (compiled MessageDigest — the text bigram path); `false`
    * parses elements AS `algo` hex (the media path, whose chunk
    * fingerprints are md5 strings already). Bit-for-bit equal to the
    * aggregate formulations — DedupSpec pins all widths against them.
    *
    * `algo` ("md5" | "sha256") sizes the per-element digest: md5's 4
    * 32-bit words carry signatures up to 128 bits; sha256's 8 words
    * carry 256 — the widening the banded-join scaladocs call for when
    * bits-per-band must grow past md5's ceiling (the calibrator's
    * `simhash_saturated` flag fires exactly there, measured at the 10×
    * probe: 50 k docs already need 12 bits/band > 128/13).
    *
    * Hardening (both internal feeders — `WordShingles`, `ContentChunks`
    * — emit `containsNull = false`, non-hex-free arrays, but the
    * expression is SQL-registered so arbitrary callers can reach it):
    * null elements are SKIPPED (a missing feature casts no vote, the
    * same convention the sibling array expressions use), and with
    * `hashInput = false` every element must be a 32-char lowercase md5
    * hex string — anything else fails loudly with the offending value
    * named, instead of silently mis-voting or throwing a bare
    * StringIndexOutOfBoundsException. */
  case class SimhashVotes(child: Expression, wordOrder: Seq[Int],
      hashInput: Boolean, algo: String = "md5") extends UnaryExpression {
    // "sha256x2" extends the per-element digest to 512 bits as the
    // domain-separated concatenation sha256(x) || sha256('#' || x) —
    // the standard output-extension construction, chosen over SHA-512
    // because the DuckDB oracle has sha256 but no sha512, so both
    // engines replay the identical bytes. The two halves see distinct
    // inputs (the 1-byte '#' prefix), so no vote word repeats.
    private val (algoName, digestBytes, doubled) = algo match {
      case "md5" => ("MD5", 16, false)
      case "sha256" => ("SHA-256", 32, false)
      case "sha256x2" => ("SHA-256", 64, true)
      case other => throw new IllegalArgumentException(
        s"simhash_votes: unsupported algo '$other' (md5 | sha256 | sha256x2)")
    }
    require(wordOrder.nonEmpty &&
      wordOrder.forall(w => w >= 0 && w < digestBytes / 4))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash_votes requires array<string> input, got ${other.catalogString}")
    }

    private def hexNibble(c: Char, str: String): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else throw new IllegalArgumentException(
        s"simhash_votes(hashInput=false): element is not a lowercase $algo " +
          s"hex string (bad character '$c' in \"$str\")")

    def compute(arr: ArrayData): ArrayData = {
      val nWords32 = wordOrder.length
      val nBits = 32 * nWords32
      val counts = new Array[Int](nBits)
      val lease = if (hashInput) Digests.get(algoName) else null
      try {
        val md = if (lease == null) null else lease.md
        val n = arr.numElements()
        var i = 0
        while (i < n) {
          if (arr.isNullAt(i)) { i += 1 }
          else {
          val s = arr.getUTF8String(i)
          // digestBytes bytes per element: `algo` of the element's utf8
          // bytes (hashInput) or the element parsed as an `algo` hex string
          val bytes: Array[Byte] =
            if (hashInput && doubled) {
              md.reset()
              val d1 = md.digest(s.getBytes)
              md.reset()
              md.update('#'.toByte)
              val d2 = md.digest(s.getBytes)
              val out = new Array[Byte](64)
              System.arraycopy(d1, 0, out, 0, 32)
              System.arraycopy(d2, 0, out, 32, 32)
              out
            }
            else if (hashInput) { md.reset(); md.digest(s.getBytes) }
            else {
              val str = s.toString
              if (str.length != 2 * digestBytes) throw new IllegalArgumentException(
                s"simhash_votes(hashInput=false): element is not a ${2 * digestBytes}-char " +
                  s"$algo hex string (length ${str.length}: \"$str\")")
              val out = new Array[Byte](digestBytes)
              var t = 0
              while (t < digestBytes) {
                out(t) = ((hexNibble(str.charAt(2 * t), str) << 4) |
                  hexNibble(str.charAt(2 * t + 1), str)).toByte
                t += 1
              }
              out
            }
          var j = 0
          while (j < nWords32) {
            val w = wordOrder(j)
            val h = ((bytes(4 * w) & 0xFFL) << 24) |
              ((bytes(4 * w + 1) & 0xFFL) << 16) |
              ((bytes(4 * w + 2) & 0xFFL) << 8) |
              (bytes(4 * w + 3) & 0xFFL)
            var b = 0
            while (b < 32) {
              counts(32 * j + b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
              b += 1
            }
            j += 1
          }
          i += 1
          }
        }
        val nOut = (nBits + 63) / 64
        val out = new Array[Any](nOut)
        var wd = 0
        while (wd < nOut) {
          var sig = 0L
          var b = 0
          while (b < 64 && 64 * wd + b < nBits) {
            if (counts(64 * wd + b) > 0) sig |= (1L << b)
            b += 1
          }
          out(wd) = sig
          wd += 1
        }
        new GenericArrayData(out)
      } finally if (lease != null) lease.release()
    }

    override def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("voter", this, classOf[SimhashVotes].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** md5 keys of every contiguous k-gram of a word array in ONE compiled
    * pass — the gram-hashing kernel shared by the substring-span family
    * (spansFromDocs and its calibrator probes) and the winnowing
    * fingerprinter. Replaces the interpreted
    * `transform(sequence(0, size(w) − k), i ->
    *   md5(array_join(slice(w, i + 1, k), ' ')))`
    * HOF chain — one lambda dispatch + slice/array_join/hex allocations
    * per position per row — with an incremental `MessageDigest.update`
    * loop over the words' UTF-8 bytes (the separator byte written
    * directly, no gram string ever materialized).
    *
    * `nHex = 32` emits the full lowercase hex digest (array<string>,
    * bit-identical to `md5()`); `nHex ∈ [1, 15]` emits the integer value
    * of the first nHex hex digits (array<long>, bit-identical to
    * `conv(substring(md5(g), 1, nHex), 16, 10)` — ≤ 60 bits, so the Long
    * stays positive). Fewer than k words yield an empty array (callers
    * guard `size(w) >= k`, as the HOF form and the oracle do). Null
    * elements are skipped exactly as `array_join` skips them in the HOF
    * chain (no separator emitted), so the SQL-registered surface matches
    * the documented equivalence for containsNull inputs too.
    * Equivalence pinned in VectorExpressionsSpec. */
  case class Md5GramKeys(child: Expression, k: Int, nHex: Int)
      extends UnaryExpression {
    require(k >= 1 && (nHex == 32 || (nHex >= 1 && nHex <= 15)),
      s"md5_gram_keys: k=$k must be >= 1 and nHex=$nHex must be 32 (full hex) or 1..15 (head long)")
    override def dataType: DataType =
      if (nHex == 32) ArrayType(StringType, containsNull = false)
      else ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5_gram_keys requires array<string> input, got ${other.catalogString}")
    }

    private val HexChars = "0123456789abcdef".toCharArray

    def compute(arr: ArrayData): ArrayData = {
      val n = arr.numElements()
      if (n < k) return new GenericArrayData(Array.empty[Any])
      val count = n - k + 1
      val wb = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        // internal feeders (split() output) never yield null elements,
        // but the expression is SQL-registered: a null word is SKIPPED —
        // array_join in the equivalent HOF chain skips nulls (no
        // separator is emitted for them), so the digests stay
        // bit-identical for containsNull inputs too
        val w = arr.getUTF8String(i)
        wb(i) = if (w == null) null else w.getBytes
        i += 1
      }
      val lease = Digests.get("MD5")
      try {
        val md = lease.md
        val out = new Array[Any](count)
        i = 0
        while (i < count) {
          md.reset()
          var j = 0
          var written = false
          while (j < k) {
            val w = wb(i + j)
            if (w != null) {
              if (written) md.update(' '.toByte)
              md.update(w)
              written = true
            }
            j += 1
          }
          val d = md.digest()
          if (nHex == 32) {
            val fp = new Array[Char](32)
            var t = 0
            while (t < 16) {
              fp(2 * t) = HexChars((d(t) >> 4) & 0xF)
              fp(2 * t + 1) = HexChars(d(t) & 0xF)
              t += 1
            }
            out(i) = org.apache.spark.unsafe.types.UTF8String.fromString(new String(fp))
          } else {
            var v = 0L
            var t = 0
            while (t < nHex) {
              val nib =
                if (t % 2 == 0) (d(t / 2) >> 4) & 0xF else d(t / 2) & 0xF
              v = (v << 4) | nib
              t += 1
            }
            out(i) = v
          }
          i += 1
        }
        new GenericArrayData(out)
      } finally lease.release()
    }

    override def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("gramKeys", this, classOf[Md5GramKeys].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Integer value of the first nHex hex digits of md5(s) — the
    * engine-portable hash-bucket idiom `CAST(conv(substring(md5(s), 1,
    * nHex), 16, 10) AS BIGINT)` as ONE compiled step. The builtin chain
    * hex-encodes the full 16-byte digest to a 32-char string, substrings
    * it, and re-parses the prefix in base 16 (NumberConverter) — three
    * UTF8String allocations per call; this digests and masks the leading
    * nibbles directly. nHex ≤ 15 keeps the value ≤ 60 bits (always a
    * positive Long), exactly like the conv() form. Bit-for-bit
    * equivalence pinned in VectorExpressionsSpec. Feeds the hashed
    * feature buckets of the NB classifier family, DSIR, the SRP term
    * hash and the chunk signatures — per-token work on the corpus' hot
    * paths. */
  case class Md5HeadLong(child: Expression, nHex: Int)
      extends UnaryExpression {
    require(nHex >= 1 && nHex <= 15,
      s"md5_head_long: nHex=$nHex must be in 1..15 (60 bits max)")
    override def dataType: DataType = LongType
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"md5_head_long requires a string input, got ${other.catalogString}")
    }

    def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
      val lease = Digests.get("MD5")
      try {
        val md = lease.md
        val d = md.digest(s.getBytes)
        var v = 0L
        var t = 0
        while (t < nHex) {
          val nib = if (t % 2 == 0) (d(t / 2) >> 4) & 0xF else d(t / 2) & 0xF
          v = (v << 4) | nib
          t += 1
        }
        v
      } finally lease.release()
    }

    override def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("md5head", this, classOf[Md5HeadLong].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** All six per-document Gopher-rule statistics in ONE compiled pass
    * over the text — the map-side replacement for the shape
    * `text_gopher_rules` carried through r16: four interpreted HOF
    * lambdas (aggregate/filter/rlike/array_intersect) over the token
    * array PLUS an explode → shuffle → per-(doc, width, gram) count →
    * top-1 window / dup-mass aggregate → two broadcast joins. Every
    * gram statistic is a pure per-row function of the document's own
    * token sequence, so the corpus-wide gram shuffle was paying
    * distribution cost for row-local work (guide §2.4: remove shuffles
    * outright). Output struct, all Long:
    *
    *  - n_tokens        = size(split(text, ' '))          (split keeps
    *    trailing empties — `split(s, " ", -1)`, the Spark semantics);
    *  - chars_in_tokens = Σ length(token)   (code points, = `length()`);
    *  - n_alpha         = #tokens matching rlike '[a-z]' (contains any
    *    lowercase ASCII letter);
    *  - stop_hits       = |array_intersect(array_distinct(toks), stops)|
    *    (# DISTINCT stopwords present);
    *  - top2_chars      = cnt·length(gram) of the most frequent
    *    contiguous 2-gram, ties by the binary-UTF8-smallest gram (the
    *    `row_number over (cnt DESC, gram ASC)` tie-break), 0 when
    *    n_tokens < 2 (the old left join's null → coalesce 0);
    *  - dup5_chars      = Σ_{5-grams with cnt ≥ 2} (cnt−1)·length(gram),
    *    0 when n_tokens < 5.
    *
    * Bit-for-bit equal to the exploded formulation — the
    * `Twins.textGopherRulesTwin` equivalence is pinned in
    * VectorExpressionsSpec (fixture + adversarial tie/empty-token
    * cases). */
  case class GopherTextStats(child: Expression, stops: Seq[String])
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", LongType, nullable = false),
      StructField("chars_in_tokens", LongType, nullable = false),
      StructField("n_alpha", LongType, nullable = false),
      StructField("stop_hits", LongType, nullable = false),
      StructField("top2_chars", LongType, nullable = false),
      StructField("dup5_chars", LongType, nullable = false)))
    override def nullable: Boolean = child.nullable

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"gopher_text_stats requires a string input, got ${other.catalogString}")
    }

    // immutable per-expression lookup; tokens are short so String
    // hashing is cheap next to the per-token regex the HOF form paid
    @transient private lazy val stopSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](stops.length * 2)
      stops.foreach(s.add)
      s
    }

    /** `gram ASC` under Spark string ordering = unsigned byte-wise
      * UTF-8 comparison (UTF8String.compareTo), NOT Java's UTF-16
      * String.compareTo — the two differ on supplementary characters.
      * Only evaluated on count ties. */
    private def utf8Less(a: String, b: String): Boolean = {
      if (b == null) return true
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val m = math.min(x.length, y.length)
      var i = 0
      while (i < m) {
        val d = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }

    // `length()` on StringType counts code points (UTF8String.numChars)
    private def numChars(s: String): Long =
      s.codePointCount(0, s.length).toLong

    private def gramCounts(words: Array[String], n: Int)
        : java.util.HashMap[String, Integer] = {
      val count = words.length - n + 1
      val m = new java.util.HashMap[String, Integer](count * 2)
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < count) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j)); j += 1
        }
        m.merge(sb.toString, 1, (a: Integer, b: Integer) =>
          Integer.valueOf(a.intValue() + b.intValue()))
        i += 1
      }
      m
    }

    def compute(s: org.apache.spark.unsafe.types.UTF8String): InternalRow = {
      val words = s.toString.split(" ", -1)
      val n = words.length
      var chars = 0L
      var alpha = 0L
      val seenStops = new java.util.HashSet[String](16)
      var i = 0
      while (i < n) {
        val w = words(i)
        chars += numChars(w)
        var hasAlpha = false
        var j = 0
        while (j < w.length && !hasAlpha) {
          val c = w.charAt(j)
          if (c >= 'a' && c <= 'z') hasAlpha = true
          j += 1
        }
        if (hasAlpha) alpha += 1
        if (stopSet.contains(w)) seenStops.add(w)
        i += 1
      }
      var top2 = 0L
      if (n >= 2) {
        val m = gramCounts(words, 2)
        var bestCnt = 0
        var best: String = null
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue.intValue()
          if (c > bestCnt || (c == bestCnt && utf8Less(e.getKey, best))) {
            bestCnt = c; best = e.getKey
          }
        }
        top2 = bestCnt.toLong * numChars(best)
      }
      var dup5 = 0L
      if (n >= 5) {
        val m = gramCounts(words, 5)
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue.intValue()
          if (c >= 2) dup5 += (c - 1).toLong * numChars(e.getKey)
        }
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](n.toLong, chars, alpha, seenStops.size.toLong, top2, dup5))
    }

    override def nullSafeEval(v: Any): Any =
      compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("gopher", this, classOf[GopherTextStats].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
    }

    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  def dotLongs(a: Column, b: Column): Column =
    ColumnBridge.column(LongArrayDot(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))

  def contentChunks(c: Column): Column =
    ColumnBridge.column(ContentChunks(ColumnBridge.expression(c)))

  def simhashVotes(c: Column, wordOrder: Seq[Int], hashInput: Boolean,
      algo: String = "md5"): Column =
    ColumnBridge.column(SimhashVotes(ColumnBridge.expression(c),
      wordOrder, hashInput, algo))

  def universalMinhash(c: Column, k: Int, p: Long): Column =
    ColumnBridge.column(UniversalMinHash(ColumnBridge.expression(c), k, p))

  def signBuckets(c: Column, nTables: Int, nPlanes: Int, dim: Int): Column =
    ColumnBridge.column(
      SignRandomProjection(ColumnBridge.expression(c), nTables, nPlanes, dim))

  def wordShingles(c: Column, n: Int, distinct: Boolean): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(c), n, distinct))

  def xxhashModArray(c: Column, p: Long): Column =
    ColumnBridge.column(XxHashModArray(ColumnBridge.expression(c), p))

  def hashOrderKeys(shingles: Column, hot: Column): Column =
    ColumnBridge.column(HashOrderKeys(
      ColumnBridge.expression(shingles), ColumnBridge.expression(hot)))

  def longIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(LongArrayIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def gopherTextStats(c: Column, stops: Seq[String]): Column =
    ColumnBridge.column(GopherTextStats(ColumnBridge.expression(c), stops))

  def md5GramKeys(words: Column, k: Int, nHex: Int): Column =
    ColumnBridge.column(Md5GramKeys(ColumnBridge.expression(words), k, nHex))

  def md5HeadLong(c: Column, nHex: Int): Column =
    ColumnBridge.column(Md5HeadLong(ColumnBridge.expression(c), nHex))
}
