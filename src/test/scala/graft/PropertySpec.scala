package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.cep.Cep
import graft.cep.CepStreaming.CepRow
import graft.functions.Aggregators
import graft.functions.Aggregators.Scored
import graft.streaming.Dfa

/** Property tests (SURVEY.md §5 strategy item 4) over the pure-logic
  * cores — no SparkSession needed, so these run in milliseconds.
  */
object GraftProperties extends Properties("graft") {

  // ---- TopK aggregator: the distributed-correctness property --------

  private val topk = new Aggregators.TopK(5)
  private val scoredGen: Gen[Scored] = for {
    // NaN included: a zero-norm vector's cosine — TopK must stay a
    // total order (NaN greatest, the SQL ORDER BY DESC semantics)
    s <- Gen.frequency(9 -> Gen.chooseNum(-1.0, 1.0),
      1 -> Gen.const(Double.NaN))
    id <- Gen.chooseNum(0L, 50L)
  } yield Scored(s, id)
  private val scoredList = Gen.listOf(scoredGen)

  private def runSeq(xs: Seq[Scored]) = xs.foldLeft(topk.zero)(topk.reduce)

  // primitive == on a Double field makes NaN != NaN, so sequence
  // equality goes through bit canonicalization
  private def canon(xs: Seq[Scored]): Seq[(Long, Long)] =
    xs.map(s => (java.lang.Double.doubleToLongBits(s.sim), s.id))

  /** The SQL (sim DESC NaN-greatest, id ASC) total order TopK must
    * realize — spelled via the IEEE-754 bit-rank trick rather than a
    * comparison chain, so it shares NO code shape with the
    * production comparator (TopK.better is if/else over >, ==,
    * isNaN; this is a monotone key function): non-negative bit
    * patterns are already rank-ordered, negative ones flip to rank
    * below them, and canonical NaN's pattern lands above +Inf —
    * exactly SQL's NaN-greatest. -0.0 canonicalizes to 0.0 first,
    * matching the primitive == the production comparator uses. */
  private val sqlOrd: Ordering[Scored] = Ordering.by { s: Scored =>
    val v = if (s.sim == 0.0) 0.0 else s.sim
    val bits = java.lang.Double.doubleToLongBits(v)
    val rank = if (bits >= 0L) bits else bits ^ 0x7fffffffffffffffL
    (-rank, s.id) // sim DESC (NaN first), id ASC
  }

  property("TopK.merge is order-insensitive (shuffle-safe)") =
    forAll(scoredList, scoredList) { (a, b) =>
      canon(topk.merge(runSeq(a), runSeq(b))) ==
        canon(topk.merge(runSeq(b), runSeq(a)))
    }

  property("TopK partial-agg equals single-pass (partition-split safe)") =
    forAll(scoredList, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val (l, r) = xs.splitAt(cut.min(xs.size))
      canon(topk.merge(runSeq(l), runSeq(r))) == canon(runSeq(xs))
    }

  property("TopK equals the k head of the SQL total order (NaN greatest)") =
    forAll(scoredList) { xs =>
      val out = topk.finish(runSeq(xs))
      out.size <= 5 && canon(out) == canon(xs.sorted(sqlOrd).take(5))
    }

  // ---- DFA: alerts ⇔ illegal transitions ----------------------------

  private val eventGen = Gen.oneOf("a", "b", "c", "d", "e", "f", "g")

  property("DFA transition is defined iff the diagram has the edge") =
    forAll(Gen.oneOf("Initial", "W", "X", "Y", "Z"), eventGen) { (s, e) =>
      val legal = Set(("Initial", "a"), ("Initial", "c"), ("W", "b"),
        ("X", "b"), ("X", "d"), ("Y", "e"), ("Z", "g"))
      Dfa.transition(s, e).isDefined == legal((s, e))
    }

  // ---- CEP NFA vs a naive reference implementation ------------------

  private val nameGen = Gen.oneOf("x", "error")
  private val rowsGen: Gen[List[CepRow]] =
    Gen.listOf(nameGen).map(_.zipWithIndex.map { case (n, i) =>
      CepRow("k", i.toLong, n, 1.0, None, new java.sql.Timestamp(1000L * i))
    })

  property("strict-pair NFA == naive adjacent scan") =
    forAll(rowsGen) { rows =>
      val pattern = Cep.begin[CepRow]("s") { (_, _) => true }
        .next("e") { (e, _) => e.name == "error" }
      val nfa = new Cep.Nfa[CepRow](pattern, _.tsMs)
      val (matches, _) = nfa.run(rows)
      val got = matches.map(m => (m.entries(0)._2.id, m.entries(1)._2.id))
      val expected = rows.sliding(2).collect {
        case List(a, b) if b.name == "error" => (a.id, b.id)
      }.toList
      got == expected
    }

  property("relaxed followedByAny finds every (start, later-error) pair") =
    forAll(rowsGen) { rows =>
      val pattern = Cep.begin[CepRow]("s") { (e, _) => e.name == "x" }
        .followedByAny("e") { (e, _) => e.name == "error" }
      val nfa = new Cep.Nfa[CepRow](pattern, _.tsMs)
      val (matches, _) = nfa.run(rows)
      val got = matches.map(m => (m.entries(0)._2.id, m.entries(1)._2.id)).toSet
      val expected = (for {
        s <- rows if s.name == "x"
        e <- rows if e.name == "error" && e.id > s.id
      } yield (s.id, e.id)).toSet
      got == expected
    }

  // ---- quantifier modes: greedy ⊇-length, reluctant ⊆-length --------

  private val pricesGen: Gen[List[CepRow]] =
    Gen.nonEmptyListOf(Gen.chooseNum(1.0, 20.0)).map(_.zipWithIndex.map {
      case (p, i) => CepRow("k", i.toLong, if (i == 0) "a" else "x", p,
        None, new java.sql.Timestamp(1000L * i))
    })

  property("greedy B+ matches are at least as long as reluctant ones") =
    forAll(pricesGen) { rows =>
      def run(q: Cep.Quant): List[Int] = {
        val p = Cep.begin[CepRow]("A") { (e, _) => e.name == "a" }
          .followedBy("B", oneOrMore = true, quant = q) { (e, _) => e.price < 10 }
          .followedBy("C") { (e, _) => e.price >= 10 }
        val nfa = new Cep.Nfa[CepRow](p, _.tsMs)
        nfa.run(rows)._1.map(_.entries.count(_._1 == 1)).sorted
      }
      val (g, r) = (run(Cep.Greedy), run(Cep.Reluctant))
      // same match count; per-match B-run never shorter under greedy
      g.size == r.size && g.zip(r).forall { case (a, b) => a >= b }
    }

  // ---- BottomKDistinct: the KMV sketch's distributed-correctness ----

  private val bkd = new Aggregators.BottomKDistinct(4)
  private val longList = Gen.listOf(Gen.chooseNum(0L, 30L))
  private def runBkd(xs: Seq[Long]) = xs.foldLeft(bkd.zero)(bkd.reduce)

  property("BottomKDistinct equals the k smallest distinct values") =
    forAll(longList) { xs =>
      runBkd(xs) == xs.distinct.sorted.take(4)
    }

  property("BottomKDistinct.merge is order-insensitive (shuffle-safe)") =
    forAll(longList, longList) { (a, b) =>
      bkd.merge(runBkd(a), runBkd(b)) == bkd.merge(runBkd(b), runBkd(a))
    }

  property("BottomKDistinct partial-agg equals single-pass") =
    forAll(longList, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val (l, r) = xs.splitAt(cut.min(xs.size))
      bkd.merge(runBkd(l), runBkd(r)) == runBkd(xs)
    }

  // ---- in-bucket pair generation (the LSH candidate core) -----------

  property("sortedPairs emits exactly the C(n,2) ordered pairs") = {
    // mirror of the Column-level generator, on plain Scala: the
    // Column expression is exercised end-to-end by the oracle gate
    def pairs(ids: Seq[Long]): Seq[(Long, Long)] =
      ids.zipWithIndex.flatMap { case (x, i) =>
        ids.drop(i + 1).map(y => (x, y)) }
    forAll(Gen.listOf(Gen.chooseNum(0L, 30L))) { raw =>
      val ids = raw.distinct.sorted
      val got = pairs(ids)
      got.size == ids.size * (ids.size - 1) / 2 &&
        got.forall { case (a, b) => a < b } &&
        got.distinct.size == got.size
    }
  }

  property("SortedLongIntersectCount merge walk == set intersection") = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val elems = Gen.listOf(Gen.chooseNum(0L, 40L))
    forAll(elems, elems) { (a, b) =>
      val (sa, sb) = (a.distinct.sorted, b.distinct.sorted)
      val got = graft.functions.SortedLongIntersectCount(
        Literal.create(sa.toArray, ArrayType(LongType)),
        Literal.create(sb.toArray, ArrayType(LongType))).eval(null)
      got == sa.toSet.intersect(sb.toSet).size.toLong
    }
  }

  // ---- fused constant-matrix scoring nodes (round 7) ----------------
  // each fused loop must equal the reference arithmetic BIT-FOR-BIT
  // (same ascending fold from zero) — the codegen path is exercised
  // end-to-end by the q34/q80/q82/q84/q88/q99/q118/q120/q126 oracle
  // checks; these pin the interpreted eval against a plain-Scala fold

  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

  private val dvec = Gen.listOfN(8, Gen.chooseNum(-4.0, 4.0))
  private def sqSum(x: Seq[Double]): Double =
    x.foldLeft(0.0)((a, v) => a + v * v)
  private def dotRef(x: Seq[Double], y: Seq[Double]): Double =
    x.zip(y).foldLeft(0.0)((a, p) => a + p._1 * p._2)

  property("PqDistances fused loop == |x|2 - 2x.c + |c|2 per centroid") =
    forAll(dvec, Gen.listOfN(5, dvec)) { (x, cs) =>
      val norms = cs.map(sqSum)
      val got = graft.functions.PqDistances(
        Literal.create(x.toArray, ArrayType(DoubleType)),
        cs.map(_.toArray).toArray, norms.toArray).eval(null)
        .asInstanceOf[ArrayData].toDoubleArray().toSeq
      val want = cs.zip(norms).map { case (c, n2) =>
        sqSum(x) - 2.0 * dotRef(x, c) + n2 }
      canonD(got) == canonD(want)
    }

  property("CosineToConstants fused loop == dot / (|x| * |c|) per centroid") =
    forAll(dvec, Gen.listOfN(5, dvec)) { (x, cs) =>
      val nrms = cs.map(c => math.sqrt(sqSum(c)))
      val got = graft.functions.CosineToConstants(
        Literal.create(x.toArray, ArrayType(DoubleType)),
        cs.map(_.toArray).toArray, nrms.toArray).eval(null)
        .asInstanceOf[ArrayData].toDoubleArray().toSeq
      val want = cs.zip(nrms).map { case (c, nc) =>
        dotRef(x, c) / (math.sqrt(sqSum(x)) * nc) }
      canonD(got) == canonD(want)
    }

  property("LongSqDistances fused loop == exact integer squared L2") = {
    val lvec = Gen.listOfN(6, Gen.chooseNum(-1000L, 1000L))
    forAll(lvec, Gen.listOfN(5, lvec)) { (x, cs) =>
      val got = graft.functions.LongSqDistances(
        Literal.create(x.toArray, ArrayType(LongType)),
        cs.map(_.toArray).toArray).eval(null)
        .asInstanceOf[ArrayData].toLongArray().toSeq
      val want = cs.map(c =>
        x.zip(c).foldLeft(0L)((a, p) =>
          a + (p._1 - p._2) * (p._1 - p._2)))
      got == want
    }
  }

  // ---- codegen-path pins for the fused scoring nodes (round 8) ------
  // the properties above pin the INTERPRETED eval; queries run the
  // hand-written Java templates. These compile the actual generated
  // code (GenerateUnsafeProjection over a BoundReference input) ONCE
  // per centroid matrix and assert bit-equality of codegen vs
  // interpreted vs plain-Scala fold on the same vectors — closing the
  // seam where a template typo could survive until a data shape the
  // oracle sweep doesn't exercise. Centroid lengths 4/8/12 and input
  // lengths 0..12 run the Math.min truncation branch both ways
  // (x shorter AND longer than a centroid).

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.BoundReference
  import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private val dvecAny = Gen.chooseNum(0, 12)
    .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-4.0, 4.0)))
  // deterministic ragged centroid matrix (fixed seed: the projection
  // compiles once per matrix, variety comes from the input vectors)
  private val raggedCents: Array[Array[Double]] = {
    val r = new scala.util.Random(8)
    Array(4, 8, 12, 8, 4).map(n => Array.fill(n)(r.nextDouble() * 8 - 4))
  }
  private def foldDot(x: Seq[Double], y: Seq[Double]): Double =
    x.zip(y).foldLeft(0.0)((a, p) => a + p._1 * p._2) // zip truncates = Math.min

  property("PqDistances CODEGEN == interpreted == fold, incl. truncation") = {
    val norms = raggedCents.map(c => sqSum(c.toSeq))
    val expr = graft.functions.PqDistances(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      raggedCents, norms)
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    forAll(dvecAny) { x =>
      val row = InternalRow(new GenericArrayData(x.toArray))
      val gen = proj(row).getArray(0).toDoubleArray().toSeq
      val interp = expr.eval(row).asInstanceOf[ArrayData].toDoubleArray().toSeq
      val want = raggedCents.toSeq.zip(norms).map { case (c, n2) =>
        sqSum(x) - 2.0 * foldDot(x, c.toSeq) + n2 }
      canonD(gen) == canonD(interp) && canonD(gen) == canonD(want)
    }
  }

  property("CosineToConstants CODEGEN == interpreted == fold, incl. truncation") = {
    val nrms = raggedCents.map(c => math.sqrt(sqSum(c.toSeq)))
    val expr = graft.functions.CosineToConstants(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      raggedCents, nrms)
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    forAll(dvecAny) { x =>
      val row = InternalRow(new GenericArrayData(x.toArray))
      val gen = proj(row).getArray(0).toDoubleArray().toSeq
      val interp = expr.eval(row).asInstanceOf[ArrayData].toDoubleArray().toSeq
      // empty x: 0/0 per centroid — must be THE SAME NaN on all paths
      val want = raggedCents.toSeq.zip(nrms).map { case (c, nc) =>
        foldDot(x, c.toSeq) / (math.sqrt(sqSum(x)) * nc) }
      canonD(gen) == canonD(interp) && canonD(gen) == canonD(want)
    }
  }

  property("LongSqDistances CODEGEN == interpreted == fold, incl. truncation") = {
    val r = new scala.util.Random(9)
    val lCents: Array[Array[Long]] =
      Array(4, 8, 12, 8, 4).map(n => Array.fill(n)(r.nextLong() % 1000L))
    val expr = graft.functions.LongSqDistances(
      BoundReference(0, ArrayType(LongType), nullable = true), lCents)
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val lvecAny = Gen.chooseNum(0, 12)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-1000L, 1000L)))
    forAll(lvecAny) { x =>
      val row = InternalRow(new GenericArrayData(x.toArray))
      val gen = proj(row).getArray(0).toLongArray().toSeq
      val interp = expr.eval(row).asInstanceOf[ArrayData].toLongArray().toSeq
      val want = lCents.toSeq.map(c =>
        x.zip(c).foldLeft(0L)((a, p) =>
          a + (p._1 - p._2) * (p._1 - p._2)))
      gen == interp && gen == want
    }
  }

  property("DotProduct CODEGEN == interpreted == fold, incl. truncation") = {
    val expr = graft.functions.DotProduct(
      BoundReference(0, ArrayType(DoubleType), nullable = true),
      BoundReference(1, ArrayType(DoubleType), nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    forAll(dvecAny, dvecAny) { (x, y) =>
      val row = InternalRow(new GenericArrayData(x.toArray),
        new GenericArrayData(y.toArray))
      val gen = proj(row).getDouble(0)
      val interp = expr.eval(row).asInstanceOf[Double]
      val want = foldDot(x, y)
      canonD(Seq(gen)) == canonD(Seq(interp)) &&
        canonD(Seq(gen)) == canonD(Seq(want))
    }
  }

  property("GramSetSharedCount CODEGEN == interpreted == h60Scala fold") = {
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val vocab = (0 until 40).map(i => s"tok$i gram g$i plus $i more") ++
      Seq("héllo wörld ünïcode gram x", "日本 語 の グラム です ね", "")
    val set = vocab.take(20)
      .map(graft.functions.Portable.h60Scala).sorted.toArray
    val expr = graft.functions.GramSetSharedCount(
      BoundReference(0, ArrayType(StringType), nullable = true), set)
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    val gramsGen = Gen.chooseNum(0, 15).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.oneOf(vocab), Gen.alphaNumStr))
        .map(_.map(identity)))
    forAll(gramsGen) { gs =>
      val arr = new GenericArrayData(
        gs.map(g => UTF8String.fromString(g): Any).toArray)
      val row = InternalRow(arr)
      val gen = proj(row).getLong(0)
      val interp = expr.eval(row).asInstanceOf[Long]
      // per-element semantics (production feeds array_distinct, but
      // the node itself counts every element) against the Scala-twin
      // hash — pins the direct-from-bytes digest fold to
      // parseLong(hex.take(15), 16)
      val want = gs.count(g => java.util.Arrays.binarySearch(
        set, graft.functions.Portable.h60Scala(g)) >= 0).toLong
      gen == interp && gen == want
    }
  }

  property("Md5PrefixLong CODEGEN == interpreted == hex-parse spelling") = {
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    def hexPrefix(s: String, nibbles: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(nibbles), 16)
    }
    val exprs = Seq(8, 15).map(n => n -> graft.functions.Md5PrefixLong(
      BoundReference(0, StringType, nullable = true), n))
    val projs = exprs.map { case (n, e) =>
      (n, e, GenerateUnsafeProjection.generate(Seq(e))) }
    val strGen = Gen.oneOf(
      Gen.alphaNumStr,
      Gen.oneOf("", " ", "héllo wörld", "日本語 の グラム", "a b c",
        "split|42", "seed|x y z"))
    forAll(strGen) { s =>
      val row = InternalRow(UTF8String.fromString(s))
      projs.forall { case (n, e, p) =>
        val gen = p(row).getLong(0)
        val interp = e.eval(row).asInstanceOf[Long]
        // pins the direct-from-digest-bytes fold to the composite
        // conv(substring(md5(s),1,n),16,10) spelling (and to the
        // driver twins: Portable.h32Scala at n=8, the hash-family and
        // plane constants; Portable.h60Scala at n=15, every serve path)
        val want = hexPrefix(s, n)
        val twin =
          if (n == 8) graft.functions.Portable.h32Scala(s)
          else graft.functions.Portable.h60Scala(s)
        gen == interp && gen == want && gen == twin
      }
    }
  }

  property("md5 prefix identity: hash32(s) == hash60(s) >>> 28") = {
    // both hashes are prefixes of ONE digest (8 vs 15 hex chars), so
    // dropping the low 7 nibbles (28 bits) of the 60-bit value IS the
    // 32-bit value — any op holding a 60-bit base can derive the
    // 32-bit family without a second md5 pass (measured NOT worth a
    // cache round-trip for q87 once the fused nodes landed, see
    // OPTIMIZATION_r14.md, but the identity itself stays pinned)
    val strGen = Gen.oneOf(
      Gen.alphaNumStr,
      Gen.oneOf("", " ", "héllo wörld", "日本語 の グラム", "a b c"))
    forAll(strGen) { s =>
      import org.apache.spark.unsafe.types.UTF8String
      val u = UTF8String.fromString(s)
      (graft.functions.Md5PrefixLong.prefix(u, 15) >>> 28) ==
        graft.functions.Md5PrefixLong.prefix(u, 8)
    }
  }

  property("WordShingles CODEGEN == interpreted == sliding-join mirror") = {
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val exprs = Seq(2, 3, 5).map(n => n -> graft.functions.WordShingles(
      BoundReference(0, ArrayType(StringType, containsNull = true), nullable = true), n))
    val projs = exprs.map { case (n, e) =>
      (n, e, GenerateUnsafeProjection.generate(Seq(e.children.head, e))) }
    val tokGen = Gen.chooseNum(0, 12).flatMap(m =>
      Gen.listOfN(m, Gen.oneOf(
        Gen.alphaNumStr, Gen.const(""), Gen.const(null: String),
        Gen.oneOf("wörd", "日本", "a"))))
    forAll(tokGen) { ts =>
      val arr = new GenericArrayData(
        ts.map(t => if (t == null) null else UTF8String.fromString(t): Any).toArray)
      val row = InternalRow(arr, null)
      projs.forall { case (n, e, p) =>
        val genRow = p(row)
        val gen =
          if (genRow.isNullAt(1)) null
          else genRow.getArray(1).toObjectArray(StringType)
            .map(v => if (v == null) null else v.toString).toSeq
        val interpV = e.eval(row)
        val interp =
          if (interpV == null) null
          else interpV.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toObjectArray(StringType)
            .map(v => if (v == null) null else v.toString).toSeq
        // mirror of the old zip_with-fold spelling: element i joins
        // tokens i..i+n-1 with single spaces; any null token in the
        // window nulls that element (concat semantics); fewer than n
        // tokens -> empty array
        val want: Seq[String] =
          if (ts.length < n) Seq.empty
          else ts.sliding(n).map(w =>
            if (w.contains(null)) null else w.mkString(" ")).toSeq
        gen == interp && gen == want
      }
    }
  }

  property("MinHashMins CODEGEN == interpreted == explode + hash32 + min composite") = {
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val p = graft.operators.Dedup.P
    val (a, b) = (graft.operators.Dedup.coefA, graft.operators.Dedup.coefB)
    // the production input: 3-word shingles of a token array, so fewer
    // than 3 tokens reaches the kernel as an empty shingle array and a
    // null token as a null shingle
    val toks = BoundReference(0, ArrayType(StringType, containsNull = true), nullable = true)
    val expr = graft.functions.MinHashMins(
      graft.functions.WordShingles(toks, 3), a, b, p)
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    // equal-content coefficient arrays make an equal node: plan
    // canonicalization (exchange reuse) depends on it
    val twin = graft.functions.MinHashMins(
      graft.functions.WordShingles(toks, 3), a.clone, b.clone, p)
    // a small vocabulary repeats shingles within a row
    val tokGen = Gen.chooseNum(0, 12).flatMap(m =>
      Gen.listOfN(m, Gen.frequency(
        6 -> Gen.oneOf("x", "y", "z", "wörd", "日本"),
        3 -> Gen.alphaNumStr,
        1 -> Gen.const(null: String))))
    val rowGen = Gen.frequency(9 -> tokGen.map(Option(_)), 1 -> Gen.const(None))
    // the composite the node replaced: explode the shingles, drop the
    // null ones, md5 hex prefix per shingle, then k mins of
    // pmod(a_i * h + b_i, p) per document; no shingle -> no row (null)
    def hexH32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(4).map(x => f"${x & 0xff}%02x").mkString, 16)
    def composite(ts: Seq[String]): Option[Seq[Long]] = {
      val hs = ts.sliding(3).filter(w => w.length == 3 && !w.contains(null))
        .map(w => hexH32(w.mkString(" "))).toSeq
      if (hs.isEmpty) None
      else Some(a.indices.map(i =>
        hs.map(h => java.lang.Math.floorMod(a(i) * h + b(i), p)).min))
    }
    forAll(rowGen) { row =>
      val in = InternalRow(row.map(ts => new GenericArrayData(
        ts.map(t => if (t == null) null else UTF8String.fromString(t): Any).toArray)).orNull)
      val out = proj(in)
      val gen = if (out.isNullAt(0)) None else Some(out.getArray(0).toLongArray().toSeq)
      val interp = Option(expr.eval(in)).map(_.asInstanceOf[ArrayData].toLongArray().toSeq)
      gen == interp && gen == row.flatMap(composite) &&
        twin == expr && twin.hashCode == expr.hashCode
    }
  }

  property("SigBandScore CODEGEN == interpreted == plain-Scala mirror") = {
    val expr = graft.functions.SigBandScore(
      BoundReference(0, ArrayType(LongType), nullable = true),
      BoundReference(1, ArrayType(LongType), nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    // signatures biased toward shared bytes so first-match bands and
    // ties actually occur; odd lengths run the `& ~1` trim branch
    val sigGen = Gen.chooseNum(0, 11).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(
        Gen.const(0L), Gen.const(0x00ff00ff00ff00ffL),
        Gen.chooseNum(Long.MinValue, Long.MaxValue))))
    forAll(sigGen, sigGen) { (x, y) =>
      val row = InternalRow(new GenericArrayData(x.toArray),
        new GenericArrayData(y.toArray))
      val gen = proj(row).getLong(0)
      val interp = expr.eval(row).asInstanceOf[Long]
      val n = math.min(x.length, y.length) & ~1
      val xs = x.take(n).zip(y.take(n)).map { case (a, b) => a ^ b }
      val ham = xs.map(java.lang.Long.bitCount(_).toLong).sum
      val first = (0 until n * 4).find { j =>
        ((xs(j / 4) >>> ((j % 4) * 8)) & 255L) == 0L
      }.map { j =>
        // element j/4 holds global bands (j/4/2)*8 + (j/4%2)*4 + j%4
        val e = j / 4; (e / 2) * 8 + (e % 2) * 4 + j % 4
      }.getOrElse((n / 2) * 8).toLong
      val want = (first << 32) | ham
      // the plain-array overload the frozen video-gate index probes
      // with must walk bit-identically to the expression paths
      val plain = graft.functions.SigBandScore.score(x.toArray, y.toArray)
      gen == interp && gen == want && plain == want
    }
  }

  // ---- demuxer mutation fuzz (round 8) ------------------------------
  // q144 asserts truncated containers FAIL; these properties widen
  // that to arbitrary corruption: on random garbage and on valid
  // containers with random byte flips / truncations, parseWav /
  // parseAvi must either throw (any exception — the robust decode
  // path catches NonFatal) or return a WELL-FORMED result, never
  // hang, loop, or tear down the JVM. A demuxer that walked chunk
  // sizes unchecked would OOM or spin here.

  import graft.operators.Multimodal

  private val garbage: Gen[Array[Byte]] =
    Gen.chooseNum(0, 300).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
        .map(_.toArray))

  private def mutated(base: Array[Byte], seed: Long): Array[Byte] = {
    val r = new scala.util.Random(seed)
    val out = java.util.Arrays.copyOf(base,
      if (r.nextBoolean()) base.length else r.nextInt(base.length + 1))
    val flips = r.nextInt(8) + 1
    (0 until flips).foreach { _ =>
      if (out.nonEmpty) out(r.nextInt(out.length)) = r.nextInt(256).toByte
    }
    out
  }

  private def survives(f: => Unit): Boolean =
    try { f; true }
    catch { case scala.util.control.NonFatal(_) => true }

  property("pngDecodeFast == ImageIO pixel-exactly on random rasters") = {
    // random size + content exercises every scanline filter the JDK
    // encoder chooses (None/Sub/Up/Average/Paeth are content-driven)
    val imgGen = for {
      w <- Gen.chooseNum(9, 40)
      h <- Gen.chooseNum(8, 32)
      seed <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    } yield (w, h, seed)
    forAll(imgGen) { case (w, h, seed) =>
      val r = new scala.util.Random(seed)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      // mix smooth gradients (favors Sub/Up/Paeth) with noise
      for (y <- 0 until h; x <- 0 until w) {
        val v = if (r.nextBoolean()) r.nextInt(1 << 24)
                else ((x * 3 + y) % 256 << 16) | ((x + y * 2) % 256 << 8) |
                  ((x ^ y) % 256)
        img.setRGB(x, y, v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      val png = bos.toByteArray
      Multimodal.pngDecodeFast(png) match {
        case None => false // the writer's own PNG must take the path
        case Some((dw, dh, px)) =>
          dw == w && dh == h && (0 until h).forall(y =>
            (0 until w).forall { x =>
              val p = img.getRGB(x, y)
              val o = (y * w + x) * 3
              (px(o) & 0xff) == ((p >> 16) & 0xff) &&
                (px(o + 1) & 0xff) == ((p >> 8) & 0xff) &&
                (px(o + 2) & 0xff) == (p & 0xff)
            })
      }
    }
  }

  property("from-scratch PNG/BMP encoders round-trip pixel-exactly " +
    "through ImageIO AND the fast decode paths (round-13 encoders)") = {
    val imgGen = for {
      w <- Gen.chooseNum(1, 40)
      h <- Gen.chooseNum(1, 32)
      seed <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    } yield (w, h, seed)
    forAll(imgGen) { case (w, h, seed) =>
      val r = new scala.util.Random(seed)
      val px = new Array[Byte](w * 3 * h)
      r.nextBytes(px)
      def eq(d: (Int, Int, Array[Byte])): Boolean =
        d._1 == w && d._2 == h && java.util.Arrays.equals(d._3, px)
      def viaImageIO(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        val out = new Array[Byte](img.getWidth * 3 * img.getHeight)
        for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
          val p = img.getRGB(x, y)
          val o = (y * img.getWidth + x) * 3
          out(o) = ((p >> 16) & 0xff).toByte
          out(o + 1) = ((p >> 8) & 0xff).toByte
          out(o + 2) = (p & 0xff).toByte
        }
        (img.getWidth, img.getHeight, out)
      }
      val png = Multimodal.encodePngRgb24(w, h, px)
      val bmp = Multimodal.encodeBmp24(w, h, px)
      eq(Multimodal.pngDecodeFast(png).get) &&
        eq(Multimodal.bmpDecodeFast(bmp).get) &&
        eq(viaImageIO(png)) && eq(viaImageIO(bmp))
    }
  }

  property("parseWav survives garbage and mutated containers") = {
    val valid = Multimodal.wavBytes(
      Array.tabulate(400)(t => ((t * 37) % 2048 - 1024).toShort), 8000)
    forAll(garbage, Gen.chooseNum(0L, Long.MaxValue)) { (junk, seed) =>
      survives {
        val w = Multimodal.parseWav(junk)
        assert(w.samples != null)
      } && survives {
        val w = Multimodal.parseWav(mutated(valid, seed))
        assert(w.samples != null) // parsed => well-formed
      }
    }
  }

  property("parseAvi survives garbage and mutated containers") = {
    val frames = (0 until 3).map(f =>
      Multimodal.syntheticDibFrame(7L, f, 12, 8))
    val valid = Multimodal.aviBytes(frames, 12, 8, fps = 25, mjpeg = false)
    forAll(garbage, Gen.chooseNum(0L, Long.MaxValue)) { (junk, seed) =>
      survives {
        val s = Multimodal.parseAvi(junk)
        assert(s.frames != null)
      } && survives {
        val s = Multimodal.parseAvi(mutated(valid, seed))
        // parsed => well-formed: every frame buffer actually exists
        assert(s.frames.forall(_ != null))
      }
    }
  }

  // doubles compared by BITS (0/0 NaN cases must match too, not be
  // unequal-by-NaN)
  private def canonD(xs: Seq[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToLongBits)
}
