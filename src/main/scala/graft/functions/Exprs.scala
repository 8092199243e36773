package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for graft's hot loops.
  *
  * The pure-builtin formulations (nested `transform`/`aggregate` lambdas)
  * are semantically identical but evaluate interpreted, one boxed lambda
  * call per element — at sf0.1 the SimHash signature alone cost ~270 s.
  * These expressions do the same arithmetic in a single JVM loop per row:
  * DotLong generates whole-stage-codegen Java; the hash signatures use
  * eval (their per-row work dwarfs one virtual call).
  *
  * Semantics are locked to the DuckDB oracle definitions in
  * graft.operators (md5 hex nibbles, '0'/'1' bit strings, min-over-hex
  * MinHash permutations) — LlmOpsSpec cross-checks them against the
  * builtin formulations.
  */
object Exprs {

  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".toCharArray

  def md5Hex(bytes: Array[Byte]): Array[Char] = {
    val d = md.get()
    d.reset()
    val h = d.digest(bytes)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((h(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(h(i) & 0xf)
      i += 1
    }
    out
  }

  /** Exact integer dot product of two long arrays (whole-stage codegen). */
  case class DotLong(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(left, right).forall(e => e.dataType == NullType ||
        (e.dataType.isInstanceOf[ArrayType] &&
          e.dataType.asInstanceOf[ArrayType].elementType == LongType)))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<bigint> inputs")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_dot_long"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0L
      var i = 0
      while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |${ev.value} = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  ${ev.value} += $a.getLong($i) * $b.getLong($i);
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** MinHash signature: element k = min over shingles of
    * md5(k || '|' || shingle), as lowercase hex — identical to the
    * builtin `array_min(transform(sh, s -> md5(concat(k, '|', s))))`
    * and the DuckDB oracle, computed in one pass over the shingles.
    */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType ||
        (child.dataType.isInstanceOf[ArrayType] &&
          child.dataType.asInstanceOf[ArrayType].elementType == StringType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<string> input")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_minhash_sig"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val sig = new Array[UTF8String](numHashes)
      var k = 0
      while (k < numHashes) {
        val prefix = (k.toString + "|").getBytes(StandardCharsets.UTF_8)
        var best: String = null
        var i = 0
        while (i < n) {
          val s = arr.getUTF8String(i).getBytes
          val buf = new Array[Byte](prefix.length + s.length)
          System.arraycopy(prefix, 0, buf, 0, prefix.length)
          System.arraycopy(s, 0, buf, prefix.length, s.length)
          val h = new String(md5Hex(buf))
          if (best == null || h.compareTo(best) < 0) best = h
          i += 1
        }
        sig(k) = UTF8String.fromString(if (best == null) "" else best)
        k += 1
      }
      new GenericArrayData(sig.asInstanceOf[Array[Any]])
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("minhashExpr", this, classOf[MinHashSig].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (ArrayData) $ref.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 64-bit SimHash over shingles as a '0'/'1' string. Bit p (1-based):
    * nibble i = (p-1)/4 of md5 hex (0-based), bit j = (p-1)%4; each
    * shingle votes ±1; bit = vote sum > 0. Matches the oracle
    * nibble-for-nibble.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType ||
        (child.dataType.isInstanceOf[ArrayType] &&
          child.dataType.asInstanceOf[ArrayType].elementType == StringType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<string> input")
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_simhash64"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val votes = new Array[Int](64)
      var i = 0
      while (i < n) {
        val hex = md5Hex(arr.getUTF8String(i).getBytes)
        var p = 0
        while (p < 64) {
          val nib = Character.digit(hex(p / 4), 16)
          votes(p) += (((nib >> (p % 4)) & 1) * 2) - 1
          p += 1
        }
        i += 1
      }
      val bits = new Array[Byte](64)
      var p = 0
      while (p < 64) {
        bits(p) = if (votes(p) > 0) '1'.toByte else '0'.toByte
        p += 1
      }
      UTF8String.fromBytes(bits)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("simhashExpr", this, classOf[SimHash64].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (UTF8String) $ref.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Distinct w-token shingles of a token array, first-occurrence order —
    * identical to the builtin `array_distinct(transform(sequence(1,
    * greatest(n-w+1, 1)), i -> concat_ws(' ', slice(toks, i, w))))`
    * (TextOps.shingles, kept as the executable spec) and to the oracle's
    * `list_distinct(list_transform(range(…), …))`, computed in one JVM
    * pass instead of three nested interpreted lambdas per row.
    */
  case class Shingles(child: Expression, w: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType ||
        (child.dataType.isInstanceOf[ArrayType] &&
          child.dataType.asInstanceOf[ArrayType].elementType == StringType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<string> input")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_shingles"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val m = math.max(n - w + 1, 1)
      val seen = new java.util.LinkedHashSet[String](m * 2)
      var i = 0
      while (i < m) {
        val end = math.min(i + w, n)
        val sb = new java.lang.StringBuilder
        var j = i
        while (j < end) {
          if (j > i) sb.append(' ')
          sb.append(arr.getUTF8String(j).toString)
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("shinglesExpr", this, classOf[Shingles].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (ArrayData) $ref.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-document repetition statistics in one native pass:
    * `struct(top_tok, top_bg, nd_bg)` over a space-split token array —
    * max token multiplicity, max bigram multiplicity, distinct bigram
    * count. Semantics locked to the HOF/DuckDB formulation (C34/C23):
    * bigram i = (tok(i), tok(i+1)) for i < n-1, and a single-token doc
    * contributes its lone token as its one "bigram" (the
    * `slice(toks, i, 2)` tail behavior). Tokens never contain spaces
    * (they come from `split(text, ' ')`), so componentwise pair
    * equality == the oracle's `concat_ws(' ', pair)` string equality.
    *
    * Multiplicities come from run lengths over a sort — O(L log L)
    * UTF8String binary compares — replacing the
    * `transform(array_distinct, t -> size(filter(= t)))` builtin shape:
    * O(distinct·L) interpreted lambda calls per doc, which dominated
    * the whole bench once the noop sink charged projection compute.
    * Like the hash signatures, eval-only: one virtual call per row
    * doing the row's entire work (NOT the per-element ref-call inside a
    * hot lambda that measured 6× slow — see Md5BucketMod's note).
    */
  case class RepStats(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType ||
        (child.dataType.isInstanceOf[ArrayType] &&
          child.dataType.asInstanceOf[ArrayType].elementType == StringType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<string> input")
    override def dataType: DataType = StructType(Seq(
      StructField("top_tok", LongType, nullable = false),
      StructField("top_bg", LongType, nullable = false),
      StructField("nd_bg", LongType, nullable = false)))
    override def prettyName: String = "graft_rep_stats"

    private def maxRun(sorted: Array[UTF8String]): Long = {
      var best = 1L; var run = 1L; var i = 1
      while (i < sorted.length) {
        if (sorted(i) == sorted(i - 1)) { run += 1; if (run > best) best = run }
        else run = 1L
        i += 1
      }
      best
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val toks = new Array[UTF8String](n)
      var i = 0
      while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
      val sortedT = toks.clone()
      java.util.Arrays.sort(sortedT.asInstanceOf[Array[AnyRef]])
      val topTok = if (n == 0) 1L else maxRun(sortedT)
      var topBg = 1L
      var ndBg = 1L
      if (n > 2) {
        // sort bigram indices by (tok(i), tok(i+1)); runs give both stats
        val idx = new Array[Integer](n - 1)
        i = 0
        while (i < n - 1) { idx(i) = Integer.valueOf(i); i += 1 }
        java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
          override def compare(a: Integer, b: Integer): Int = {
            val c = toks(a).compareTo(toks(b))
            if (c != 0) c else toks(a + 1).compareTo(toks(b + 1))
          }
        })
        var best = 1L; var run = 1L
        i = 1
        while (i < n - 1) {
          val a = idx(i - 1); val b = idx(i)
          if (toks(a) == toks(b) && toks(a + 1) == toks(b + 1)) {
            run += 1; if (run > best) best = run
          } else { run = 1L; ndBg += 1 }
          i += 1
        }
        topBg = best
      }
      // n <= 2: one bigram (the pair, or the lone/empty-doc token tail)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](topTok, topBg, ndBg))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("repStatsExpr", this, classOf[RepStats].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (InternalRow) $ref.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Mojibake repair (the ftfy heuristic, C75): text that went through
    * a UTF-8 → Latin-1 misdecode ("café" → "cafÃ©") is detected and
    * reversed by the roundtrip test — if every char fits Latin-1 and
    * the Latin-1 re-encoding parses as STRICT UTF-8, the misdecode is
    * undone; iterate (bounded) for doubly-mangled text. The guard is
    * load-bearing in both directions: genuinely-Latin-1 text ("café"
    * itself) re-encodes to bytes that are NOT valid UTF-8 (0xE9
    * followed by ASCII), so it is never falsely "repaired", and pure
    * ASCII short-circuits untouched. Strict decode via CharsetDecoder
    * REPORT — the lenient String constructor would substitute U+FFFD
    * and "succeed" on garbage.
    */
  case class FixMojibake(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType || child.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs string input")
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_fix_mojibake"

    override def nullSafeEval(input: Any): Any = {
      var cur = input.asInstanceOf[UTF8String].toString
      var rounds = 0
      var done = false
      while (!done && rounds < 3) {
        var hasHigh = false
        var allLatin1 = true
        var i = 0
        while (i < cur.length && allLatin1) {
          val c = cur.charAt(i)
          if (c > 0x7f) hasHigh = true
          if (c > 0xff) allLatin1 = false
          i += 1
        }
        if (!hasHigh || !allLatin1) done = true
        else {
          val bytes = cur.getBytes(StandardCharsets.ISO_8859_1)
          try {
            val dec = StandardCharsets.UTF_8.newDecoder()
              .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
              .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
            cur = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
            rounds += 1
          } catch {
            case _: java.nio.charset.CharacterCodingException => done = true
          }
        }
      }
      UTF8String.fromString(cur)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("fixMojiExpr", this, classOf[FixMojibake].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (UTF8String) $ref.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Count of array elements that are members of a fixed string set —
    * the stopword tally, one hash probe per token instead of an
    * interpreted `filter(isInCollection)` lambda. The set is a
    * plan-build-time constant (the Literal.create pattern): converted
    * to UTF8String ONCE here, never per eval.
    */
  case class CountInSet(child: Expression, set: Seq[String]) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType ||
        (child.dataType.isInstanceOf[ArrayType] &&
          child.dataType.asInstanceOf[ArrayType].elementType == StringType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<string> input")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_count_in_set"

    @transient private lazy val members: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String](set.size * 2)
      set.foreach(x => s.add(UTF8String.fromString(x)))
      s
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var c = 0L
      var i = 0
      while (i < n) {
        if (members.contains(arr.getUTF8String(i))) c += 1
        i += 1
      }
      c
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("countInSetExpr", this, classOf[CountInSet].getName)
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = ((Long) $ref.nullSafeEval($c)).longValue();")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Hamming distance between two equal-length ASCII strings (codegen). */
  case class HammingStr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(left, right).forall(e => e.dataType == NullType || e.dataType == StringType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs string inputs")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_hamming"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[UTF8String].getBytes
      val y = b.asInstanceOf[UTF8String].getBytes
      val n = math.min(x.length, y.length)
      var d = math.abs(x.length - y.length).toLong
      var i = 0
      while (i < n) { if (x(i) != y(i)) d += 1; i += 1 }
      d
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val xa = ctx.freshName("xa")
        val ya = ctx.freshName("ya")
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |byte[] $xa = $a.getBytes();
           |byte[] $ya = $b.getBytes();
           |int $n = java.lang.Math.min($xa.length, $ya.length);
           |${ev.value} = java.lang.Math.abs($xa.length - $ya.length);
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($xa[$i] != $ya[$i]) ${ev.value} += 1L;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Bounded top-k-smallest aggregate over a LONG column.
    *
    * The scale-safe replacement for `row_number() OVER (PARTITION BY g
    * ORDER BY v) <= k`: a window sorts *every* row of the heaviest group
    * in one unsplittable task, while this aggregate keeps at most k longs
    * per group in a max-heap — map-side partials are k-bounded, the
    * shuffle moves O(groups * k) values, and AQE can split freely.
    * Mirrors the reference scheduler's daily-quota selection
    * (scheduler/job_scheduler.py:96-106: ORDER BY job_id LIMIT n per day).
    *
    * Returns the k smallest values sorted ascending.
    */
  case class MinKLong(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.PriorityQueue[java.lang.Long]]
      with UnaryLike[Expression] {
    require(k > 0, "graft_min_k: k must be positive")

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_min_k needs BIGINT input, got ${child.dataType.catalogString}")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_min_k"

    override def createAggregationBuffer(): java.util.PriorityQueue[java.lang.Long] =
      new java.util.PriorityQueue[java.lang.Long](k + 1, java.util.Collections.reverseOrder())

    override def update(
        buf: java.util.PriorityQueue[java.lang.Long],
        input: org.apache.spark.sql.catalyst.InternalRow): java.util.PriorityQueue[java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) {
        val l = v.asInstanceOf[Long]
        // reject early: heap head is the current kth-smallest
        if (buf.size < k) buf.add(l)
        else if (l < buf.peek()) { buf.poll(); buf.add(l) }
      }
      buf
    }

    override def merge(
        buf: java.util.PriorityQueue[java.lang.Long],
        other: java.util.PriorityQueue[java.lang.Long]): java.util.PriorityQueue[java.lang.Long] = {
      val it = other.iterator()
      while (it.hasNext) {
        val l = it.next()
        if (buf.size < k) buf.add(l)
        else if (l < buf.peek()) { buf.poll(); buf.add(l) }
      }
      buf
    }

    override def eval(buf: java.util.PriorityQueue[java.lang.Long]): Any = {
      val out = new Array[Long](buf.size)
      var i = 0
      val it = buf.iterator()
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      java.util.Arrays.sort(out)
      new GenericArrayData(out)
    }

    override def serialize(buf: java.util.PriorityQueue[java.lang.Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
      bb.putInt(buf.size)
      val it = buf.iterator()
      while (it.hasNext) bb.putLong(it.next())
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[java.lang.Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = createAggregationBuffer()
      var i = 0
      while (i < n) { buf.add(bb.getLong); i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): MinKLong =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): MinKLong =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): MinKLong =
      copy(child = newChild)
  }

  /** Bounded top-k-by-score aggregate: keeps the k (score DOUBLE,
    * id BIGINT) pairs with the highest score (ties broken by smaller id)
    * and returns them as `array<struct<score double, id bigint>>` sorted
    * best-first.
    *
    * The scale-safe replacement for `row_number() OVER (PARTITION BY g
    * ORDER BY score DESC, id) <= k` when the per-group candidate set is
    * data-proportional (ANN scans score the whole probed corpus per
    * query): the window sorts every scored row of a group in one
    * unsplittable task, while this aggregate's map-side partials stay
    * k-bounded and the shuffle moves O(groups * k) pairs. Twin of
    * [[MinKLong]] for scored ids.
    */
  case class MaxKScored(
      score: Expression,
      id: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.PriorityQueue[MaxKScored.Entry]]
      with BinaryLike[Expression] {
    require(k > 0, "graft_max_k_scored: k must be positive")

    override def left: Expression = score
    override def right: Expression = id

    override def checkInputDataTypes(): TypeCheckResult =
      if (score.dataType == DoubleType && id.dataType == LongType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_max_k_scored needs (DOUBLE, BIGINT), got " +
          s"(${score.dataType.catalogString}, ${id.dataType.catalogString})")

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("score", DoubleType, nullable = false),
        StructField("id", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_max_k_scored"

    // Heap head = the WORST kept pair (lowest score, then largest id),
    // so admission tests and evictions are O(log k).
    override def createAggregationBuffer(): java.util.PriorityQueue[MaxKScored.Entry] =
      new java.util.PriorityQueue[MaxKScored.Entry](k + 1, MaxKScored.worstFirst)

    private def offer(buf: java.util.PriorityQueue[MaxKScored.Entry],
                      s: Double, i: Long): Unit =
      if (buf.size < k) buf.add(MaxKScored.Entry(s, i))
      else {
        val head = buf.peek()
        // candidate beats the current worst: higher score, or same score
        // with a smaller id (Spark's DESC-score, ASC-id window order)
        if (s > head.score || (s == head.score && i < head.id)) {
          buf.poll(); buf.add(MaxKScored.Entry(s, i))
        }
      }

    override def update(
        buf: java.util.PriorityQueue[MaxKScored.Entry],
        input: org.apache.spark.sql.catalyst.InternalRow): java.util.PriorityQueue[MaxKScored.Entry] = {
      val s = score.eval(input)
      val i = id.eval(input)
      if (s != null && i != null) offer(buf, s.asInstanceOf[Double], i.asInstanceOf[Long])
      buf
    }

    override def merge(
        buf: java.util.PriorityQueue[MaxKScored.Entry],
        other: java.util.PriorityQueue[MaxKScored.Entry]): java.util.PriorityQueue[MaxKScored.Entry] = {
      val it = other.iterator()
      while (it.hasNext) { val e = it.next(); offer(buf, e.score, e.id) }
      buf
    }

    override def eval(buf: java.util.PriorityQueue[MaxKScored.Entry]): Any = {
      val arr = buf.toArray(new Array[MaxKScored.Entry](buf.size))
      java.util.Arrays.sort(arr, MaxKScored.bestFirst)
      new GenericArrayData(arr.map(e =>
        org.apache.spark.sql.catalyst.InternalRow(e.score, e.id)): Array[Any])
    }

    override def serialize(buf: java.util.PriorityQueue[MaxKScored.Entry]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
      bb.putInt(buf.size)
      val it = buf.iterator()
      while (it.hasNext) { val e = it.next(); bb.putDouble(e.score); bb.putLong(e.id) }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[MaxKScored.Entry] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = createAggregationBuffer()
      var i = 0
      while (i < n) { buf.add(MaxKScored.Entry(bb.getDouble, bb.getLong)); i += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): MaxKScored =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): MaxKScored =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): MaxKScored =
      copy(score = newLeft, id = newRight)
  }

  object MaxKScored {
    final case class Entry(score: Double, id: Long)
    // "better" = higher score, tie → smaller id
    val bestFirst: java.util.Comparator[Entry] = (a: Entry, b: Entry) => {
      val c = java.lang.Double.compare(b.score, a.score)
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    }
    val worstFirst: java.util.Comparator[Entry] = bestFirst.reversed()
  }

  /** ALL w-token grams in order (non-distinct sibling of [[Shingles]]):
    * occurrence streams for frequency work (heavy hitters) need every
    * occurrence, where Shingles' per-doc dedup would collapse them. The
    * builtin `transform(sequence(..), i -> concat_ws(slice(..)))`
    * formulation allocates a sliced array + lambda frame per gram and
    * cost ~1.8 s at sf0.1; this is one JVM loop per row.
    */
  case class Ngrams(child: Expression, w: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType ||
        (child.dataType.isInstanceOf[ArrayType] &&
          child.dataType.asInstanceOf[ArrayType].elementType == StringType))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<string> input")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_ngrams"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val m = math.max(n - w + 1, 1)
      val out = new Array[Any](m)
      var i = 0
      while (i < m) {
        val end = math.min(i + w, n)
        val sb = new java.lang.StringBuilder
        var j = i
        while (j < end) {
          if (j > i) sb.append(' ')
          sb.append(arr.getUTF8String(j).toString)
          j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ngramsExpr", this, classOf[Ngrams].getName)
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (ArrayData) $ref.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Bounded heavy-hitter candidate aggregate: a Misra-Gries summary
    * with k counters over a STRING stream.
    *
    * Guarantees (Misra & Gries 1982; merge rule per Agarwal et al.,
    * "Mergeable Summaries", PODS'12): every item with true frequency
    * > N/k is present in the summary, and each reported count
    * undercounts the true count by at most N/k — with O(k) state per
    * partition regardless of stream length or vocabulary size. That is
    * the 100 TB contract: an exact token groupBy shuffles the whole
    * vocabulary; this shuffles k counters per partition.
    *
    * The summary CONTENT (which below-threshold items survive, and
    * their estimates) depends on partition merge order and is NOT
    * deterministic across runs. Consumers must treat it as a candidate
    * superset and exact-verify before anything order-sensitive — see
    * [[graft.operators.TextOps.heavyHitters]], whose final output is
    * merge-order independent precisely because of the superset
    * guarantee.
    */
  case class MisraGries(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[java.util.HashMap[UTF8String, java.lang.Long]]
      with UnaryLike[Expression] {
    require(k > 0, "graft_heavy_hitters: k must be positive")

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_heavy_hitters needs STRING input, got ${child.dataType.catalogString}")

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("token", StringType, nullable = false),
        StructField("est_cnt", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_heavy_hitters"

    override def createAggregationBuffer(): java.util.HashMap[UTF8String, java.lang.Long] =
      new java.util.HashMap[UTF8String, java.lang.Long](k * 2)

    override def update(
        buf: java.util.HashMap[UTF8String, java.lang.Long],
        input: org.apache.spark.sql.catalyst.InternalRow): java.util.HashMap[UTF8String, java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) {
        val s = v.asInstanceOf[UTF8String]
        val cur = buf.get(s)
        if (cur != null) buf.put(s, cur + 1L)
        // clone: the incoming UTF8String may point into a reused row buffer
        else if (buf.size < k) buf.put(s.clone(), 1L)
        else {
          // MG step: no free counter — every counter pays 1, zeros evict
          val it = buf.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
          }
        }
      }
      buf
    }

    override def merge(
        buf: java.util.HashMap[UTF8String, java.lang.Long],
        other: java.util.HashMap[UTF8String, java.lang.Long]): java.util.HashMap[UTF8String, java.lang.Long] = {
      val it = other.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val cur = buf.get(e.getKey)
        buf.put(e.getKey, if (cur != null) cur + e.getValue else e.getValue)
      }
      if (buf.size > k) {
        // mergeable-summaries trim: subtract the (k+1)-th largest count
        // from every counter, evict the non-positive — ≤ k survive and
        // the total undercount stays ≤ N/k
        val counts = new Array[Long](buf.size)
        var i = 0
        val vit = buf.values().iterator()
        while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
        java.util.Arrays.sort(counts)
        val sub = counts(buf.size - k - 1)
        val eit = buf.entrySet().iterator()
        while (eit.hasNext) {
          val e = eit.next()
          if (e.getValue <= sub) eit.remove() else e.setValue(e.getValue - sub)
        }
      }
      buf
    }

    override def eval(buf: java.util.HashMap[UTF8String, java.lang.Long]): Any = {
      import scala.jdk.CollectionConverters._
      val rows = buf.entrySet().asScala.toArray
        .sortBy(e => (-e.getValue.longValue(), e.getKey))
        .map(e => org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue.longValue()): Any)
      new GenericArrayData(rows)
    }

    override def serialize(buf: java.util.HashMap[UTF8String, java.lang.Long]): Array[Byte] = {
      var total = 4
      val sit = buf.keySet().iterator()
      while (sit.hasNext) total += 4 + sit.next().numBytes() + 8
      val bb = java.nio.ByteBuffer.allocate(total)
      bb.putInt(buf.size)
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val bytes = e.getKey.getBytes
        bb.putInt(bytes.length); bb.put(bytes); bb.putLong(e.getValue)
      }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.HashMap[UTF8String, java.lang.Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val buf = createAggregationBuffer()
      var i = 0
      while (i < n) {
        val len = bb.getInt
        val b = new Array[Byte](len)
        bb.get(b)
        buf.put(UTF8String.fromBytes(b), bb.getLong)
        i += 1
      }
      buf
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): MisraGries =
      copy(child = newChild)
  }

  /** Single-pass exactly-greedy BPE pair merge over a ␟-wrapped symbol
    * string (TextOps.bpeTrain/bpeEncode hot loop). One scan replaces the
    * two scans of the literal-replace formulation AND covers self pairs
    * (l == r), where string replace provably under-merges odd runs
    * (it cannot re-match across the separator it just consumed). A
    * symbol is appended; when the previous appended symbol equals `l`
    * and the incoming one equals `r`, the incoming chars extend the
    * previous symbol instead — the merged symbol `l+r` can never
    * re-merge as a left side (`r` nonempty), which is what makes the
    * scan exactly greedy. Output stays ␟-wrapped. Fuzzed against a
    * direct scan-merge reference in PropertySpec.
    */
  def bpeMergeGreedy(seg: UTF8String, l: String, r: String): UTF8String = {
    val in = seg.toString
    val sep = '\u001f'
    val n = in.length
    val sb = new java.lang.StringBuilder(n + 1)
    sb.append(sep)
    var lastStart = -1 // start of the last appended symbol in sb
    var i = if (n > 0 && in.charAt(0) == sep) 1 else 0
    while (i < n) {
      var j = in.indexOf(sep, i)
      if (j < 0) j = n
      if (j > i) { // skip empty segments (doubled separators)
        val isR = (j - i) == r.length && in.regionMatches(i, r, 0, r.length)
        var lastIsL = lastStart >= 0 && (sb.length - lastStart) == l.length
        if (lastIsL) {
          var k = 0
          while (lastIsL && k < l.length) {
            if (sb.charAt(lastStart + k) != l.charAt(k)) lastIsL = false
            k += 1
          }
        }
        if (isR && lastIsL) {
          sb.append(in, i, j) // extend the previous symbol to l+r
        } else {
          if (lastStart >= 0) sb.append(sep)
          lastStart = sb.length
          sb.append(in, i, j)
        }
      }
      i = j + 1
    }
    sb.append(sep)
    UTF8String.fromString(sb.toString)
  }

  /** [[bpeMergeGreedy]] as a catalyst expression; `l`/`r` are the
    * round's winning pair (driver-known literals), so codegen calls the
    * kernel through one object reference and the projection stays
    * inside the whole-stage span.
    */
  case class BpeMergePair(child: Expression, l: String, r: String)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType || child.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string input")
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_bpe_merge"

    override def nullSafeEval(s: Any): Any =
      bpeMergeGreedy(s.asInstanceOf[UTF8String], l, r)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bpeMergeExpr", this)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (UTF8String) $ref.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): BpeMergePair =
      copy(child = newChild)
  }

  /** Whole-Gram aggregate: Σ qv·qvᵀ's upper triangle (dim·(dim+1)/2
    * exact BIGINT cells) accumulated in ONE flat long buffer per
    * partition — the per-partition outer-product + tree-reduce kernel
    * the Gram computation needs at scale, replacing the
    * explode-to-2080-structs-per-row formulation whose shuffle input
    * grew 2080× with the corpus. Map-side partials are the full
    * triangle (16 KB at dim=64), merge is elementwise add, and the
    * shuffle moves one buffer per partition regardless of corpus size.
    * eval emits (i, j, g) structs so the consumer's explode reproduces
    * the exact rows (and types) of the old bounded-key hash agg — the
    * DuckDB oracle is unchanged.
    */
  case class GramUpper(
      child: Expression,
      dim: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
      extends TypedImperativeAggregate[Array[Long]]
      with UnaryLike[Expression] {
    require(dim >= 1, "graft_gram_upper: dim must be positive")
    private val cells = dim * (dim + 1) / 2

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_gram_upper needs array<bigint> input, got ${child.dataType.catalogString}")
    }
    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("i", IntegerType, nullable = false),
        StructField("j", IntegerType, nullable = false),
        StructField("g", LongType, nullable = false))),
      containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "graft_gram_upper"

    override def createAggregationBuffer(): Array[Long] = new Array[Long](cells)

    override def update(
        buf: Array[Long],
        input: org.apache.spark.sql.catalyst.InternalRow): Array[Long] = {
      val v = child.eval(input)
      if (v != null) {
        val arr = v.asInstanceOf[ArrayData]
        require(arr.numElements() == dim,
          s"graft_gram_upper: expected $dim components, got ${arr.numElements()}")
        var idx = 0
        var i = 0
        while (i < dim) {
          val qi = arr.getLong(i)
          var j = i
          while (j < dim) {
            buf(idx) += qi * arr.getLong(j)
            idx += 1
            j += 1
          }
          i += 1
        }
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var k = 0
      while (k < cells) { a(k) += b(k); k += 1 }
      a
    }

    override def eval(buf: Array[Long]): Any = {
      val out = new Array[Any](cells)
      var idx = 0
      var i = 0
      while (i < dim) {
        var j = i
        while (j < dim) {
          out(idx) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](i, j, buf(idx)))
          idx += 1
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * cells)
      var k = 0
      while (k < cells) { bb.putLong(buf(k)); k += 1 }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val buf = new Array[Long](cells)
      var k = 0
      while (k < cells) { buf(k) = bb.getLong; k += 1 }
      buf
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): GramUpper =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): GramUpper =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): GramUpper =
      copy(child = newChild)
  }

  /** Unicode NFC normalization — the canonical-composition pass every
    * text pipeline runs before hashing/dedup (the same logical token
    * arrives as `e`+U+0301 from one crawler and U+00E9 from another;
    * unnormalized they fingerprint apart). Spark has no builtin; this
    * wraps the JDK normalizer as a codegen'd unary expression so the
    * pass stays inside whole-stage codegen with the other string
    * cleanup. Fast path: `Normalizer.isNormalized` is a quick-check
    * table scan (ASCII short-circuits immediately), so the already-
    * normalized bulk of a real corpus never allocates — the input
    * UTF8String passes through untouched.
    *
    * Semantics locked to the DuckDB oracle's `nfc_normalize`
    * (utf8proc): canonical composition is frozen by the Unicode
    * stability policy, so the JDK and utf8proc agree byte-for-byte on
    * every assigned codepoint (CurationSpec pins composition,
    * singletons like U+2126→U+03A9, idempotence, and eval==codegen).
    */
  case class NfcNormalize(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType || child.dataType.isInstanceOf[StringType])
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs string input")
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_nfc"

    override def nullSafeEval(input: Any): Any = {
      val u = input.asInstanceOf[UTF8String]
      val s = u.toString
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
      else UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val s = ctx.freshName("nfcStr")
        s"""
           |String $s = $c.toString();
           |${ev.value} = java.text.Normalizer.isNormalized(
           |    $s, java.text.Normalizer.Form.NFC)
           |  ? $c
           |  : org.apache.spark.unsafe.types.UTF8String.fromString(
           |      java.text.Normalizer.normalize($s, java.text.Normalizer.Form.NFC));
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** NFKC + confusable folding — the aggressive sibling of
    * [[NfcNormalize]] for SPAM-robust fingerprinting: NFC preserves
    * compatibility variants (fullwidth ＡＢＣ, ligature ﬁ, superscript ²)
    * and cross-script homoglyphs (Cyrillic а/е/о for Latin a/e/o) as
    * DISTINCT codepoints, so "pаypal" with one Cyrillic а fingerprints
    * apart from "paypal" — exactly what evasive duplicates exploit.
    * This pass runs JDK NFKC (compatibility decomposition folds the
    * width/ligature/super-script variants) and then a FIXED confusable
    * map for the classic single-codepoint lookalikes (the high-traffic
    * subset of Unicode TR39's confusables table — a full TR39 table is
    * a data file, not an algorithm; the map here is the stable
    * documented core). Spec-pinned (CurationSpec): DuckDB 1.0 has no
    * NFKC, so there is no SQL oracle — the C58 convention.
    *
    * Use for dedup/fingerprint KEYS, not for stored text: NFKC is
    * lossy by design (it erases formatting distinctions).
    */
  case class NfkcFold(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType || child.dataType.isInstanceOf[StringType])
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs string input")
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_nfkc_fold"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val k =
        if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFKC)) s
        else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC)
      var i = 0
      var changed = false
      val n = k.length
      while (i < n && !changed) { changed = NfkcFold.fold(k.charAt(i)) != k.charAt(i); i += 1 }
      if (!changed && (k eq s)) input.asInstanceOf[UTF8String]
      else if (!changed) UTF8String.fromString(k)
      else {
        val b = new java.lang.StringBuilder(n)
        var j = 0
        while (j < n) { b.append(NfkcFold.fold(k.charAt(j))); j += 1 }
        UTF8String.fromString(b.toString)
      }
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("nfkcFoldExpr", this, classOf[NfkcFold].getName)
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object NfkcFold {
    /** The high-traffic single-codepoint confusables: Cyrillic and
      * Greek letters visually identical to Latin in most fonts — the
      * ones homoglyph spam actually uses. Both cases where both exist.
      */
    private val Confusables: Map[Char, Char] = Map(
      // Cyrillic lowercase → Latin
      'а' -> 'a', 'е' -> 'e', 'о' -> 'o', 'р' -> 'p',
      'с' -> 'c', 'х' -> 'x', 'у' -> 'y', 'і' -> 'i',
      'ѕ' -> 's', 'ј' -> 'j',
      // Cyrillic uppercase → Latin
      'А' -> 'A', 'В' -> 'B', 'Е' -> 'E', 'К' -> 'K',
      'М' -> 'M', 'Н' -> 'H', 'О' -> 'O', 'Р' -> 'P',
      'С' -> 'C', 'Т' -> 'T', 'Х' -> 'X', 'І' -> 'I',
      'Ѕ' -> 'S', 'Ј' -> 'J',
      // Greek lookalikes (the unambiguous identical-glyph set)
      'ο' -> 'o', 'Ο' -> 'O', 'Α' -> 'A', 'Β' -> 'B',
      'Ε' -> 'E', 'Ζ' -> 'Z', 'Η' -> 'H', 'Ι' -> 'I',
      'Κ' -> 'K', 'Μ' -> 'M', 'Ν' -> 'N', 'Ρ' -> 'P',
      'Τ' -> 'T', 'Υ' -> 'Y', 'Χ' -> 'X')

    def fold(c: Char): Char = Confusables.getOrElse(c, c)
  }

  /** The hashing-trick bucket: (first 4 bytes of md5(salt ‖ str) as a
    * big-endian uint32) mod `mod` — VALUE-identical to the SQL oracles'
    * `hexPrefixValSql(md5(concat(salt, str))) % mod` chain (the first 8
    * hex nibbles ARE the first 4 digest bytes), as ONE native
    * expression instead of ~24 string ops (hex materialization + 8×
    * substr/instr) per feature. The win is biggest exactly where the
    * chain runs hottest: inside higher-order-function lambdas (the C65
    * scorer's `aggregate` fold), whose bodies Spark evaluates
    * interpreted — one eval call beats an interpreted 24-node subtree.
    */
  case class Md5BucketMod(child: Expression, salt: String, mod: Int)
      extends UnaryExpression {
    require(mod > 0, "graft_md5bucket: mod must be positive")
    private val saltBytes = salt.getBytes(StandardCharsets.UTF_8)
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType || child.dataType.isInstanceOf[StringType])
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs string input")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_md5bucket"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].getBytes
      val buf = new Array[Byte](saltBytes.length + s.length)
      System.arraycopy(saltBytes, 0, buf, 0, saltBytes.length)
      System.arraycopy(s, 0, buf, saltBytes.length, s.length)
      val d = md.get().digest(buf)
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      v % mod
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("md5BucketExpr", this, classOf[Md5BucketMod].getName)
      nullSafeCodeGen(ctx, ev,
        c => s"${ev.value} = ((Long) $ref.nullSafeEval($c)).longValue();")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Equal-depth bucket id: upper-bound binary search over a
    * strictly-increasing cut-point array — returns the number of cuts
    * ≤ value, so the bucket is a PURE function of the value
    * (order-preserving, and ties can never straddle a boundary — the
    * property [[graft.operators.DistributedRank]]'s offset algebra
    * requires). Native codegen because the cut array is plan-constant:
    * `addReferenceObj` pins it once per generated class and the loop is
    * ~log₂(buckets) primitive compares per row — a builtin formulation
    * would be either a 1024-way CASE chain (codegen method-size blowup)
    * or a HOF fold over a literal array re-converted per eval (the
    * [[litLongArray]] lesson).
    */
  case class SearchSortedLong(child: Expression, cuts: Array[Long])
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == NullType || child.dataType == LongType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName needs bigint input")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_searchsorted"

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[Long]
      var lo = 0
      var hi = cuts.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cuts(mid) <= v) lo = mid + 1 else hi = mid
      }
      lo.toLong
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val arr = ctx.addReferenceObj("searchSortedCuts", cuts, "long[]")
      nullSafeCodeGen(ctx, ev, c => {
        val lo = ctx.freshName("lo")
        val hi = ctx.freshName("hi")
        val mid = ctx.freshName("mid")
        s"""
           |int $lo = 0;
           |int $hi = $arr.length;
           |while ($lo < $hi) {
           |  int $mid = ($lo + $hi) >>> 1;
           |  if ($arr[$mid] <= $c) $lo = $mid + 1; else $hi = $mid;
           |}
           |${ev.value} = (long) $lo;
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // Column-level API
  def md5Bucket(s: Column, salt: String, mod: Int): Column =
    ColumnBridge.column(Md5BucketMod(ColumnBridge.expression(s), salt, mod))
  def searchSorted(v: Column, cuts: Array[Long]): Column =
    ColumnBridge.column(SearchSortedLong(ColumnBridge.expression(v), cuts))
  /** A TRUE pre-converted array literal. `typedLit(seq)` builds an
    * encoder-backed expression that re-converts the whole Seq on every
    * evaluation — catastrophic inside an interpreted HOF lambda (a
    * 4096-entry weight table re-materialized PER FEATURE measured 6×
    * slower than the string chain it replaced); this converts once at
    * plan build. The value is an UnsafeArrayData, not the
    * GenericArrayData `Literal.create` makes: Spark renders the
    * physical plan's description at every SQL execution start and AQE
    * plan update, and a GenericArrayData literal prints element by
    * element — for the ANN codebooks, thousands of longs per plan, per
    * job. An UnsafeArrayData prints as its class and content hash.
    */
  def litLongArray(a: Seq[Long]): Column =
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(a.toArray),
      ArrayType(LongType, containsNull = false)))
  def dotLong(a: Column, b: Column): Column =
    ColumnBridge.column(DotLong(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def minhashSig(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(shingles), numHashes))
  def simhash64(shingles: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(shingles)))
  def shingles(tokens: Column, w: Int): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(tokens), w))
  def repStats(tokens: Column): Column =
    ColumnBridge.column(RepStats(ColumnBridge.expression(tokens)))
  def fixMojibake(s: Column): Column =
    ColumnBridge.column(FixMojibake(ColumnBridge.expression(s)))
  def countInSet(tokens: Column, set: Seq[String]): Column =
    ColumnBridge.column(CountInSet(ColumnBridge.expression(tokens), set))
  def hamming(a: Column, b: Column): Column =
    ColumnBridge.column(HammingStr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  def minK(v: Column, k: Int): Column =
    ColumnBridge.column(
      MinKLong(ColumnBridge.expression(v), k).toAggregateExpression())
  def maxKScored(score: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      MaxKScored(ColumnBridge.expression(score), ColumnBridge.expression(id), k)
        .toAggregateExpression())
  def misraGries(v: Column, k: Int): Column =
    ColumnBridge.column(
      MisraGries(ColumnBridge.expression(v), k).toAggregateExpression())
  def ngrams(tokens: Column, w: Int): Column =
    ColumnBridge.column(Ngrams(ColumnBridge.expression(tokens), w))
  def bpeMerge(seg: Column, l: String, r: String): Column =
    ColumnBridge.column(BpeMergePair(ColumnBridge.expression(seg), l, r))
  def nfc(s: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(s)))
  def nfkcFold(s: Column): Column =
    ColumnBridge.column(NfkcFold(ColumnBridge.expression(s)))
  def gramUpper(qv: Column, dim: Int): Column =
    ColumnBridge.column(
      GramUpper(ColumnBridge.expression(qv), dim).toAggregateExpression())
}
