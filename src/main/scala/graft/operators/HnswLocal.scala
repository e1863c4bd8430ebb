package graft
package operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DotProduct, Hash60, MinKPairAggregator, TopKAggregator}

/** The in-process arm of the graph family: [[Hnsw.buildIndex]]'s
  * layer build and the registry kNN graph ([[Ann.qKnnGraph]],
  * [[Ann.qGraphSearch]]), run in plain Scala over collected rows, step
  * for step the Spark arm's plan — [[Hnsw.qHnswLevels]]'s levels and
  * entry, [[Ann.lshTables]] buckets, the [[Ann.qKnnJoinG]] top-k, the
  * seeded [[Ann.qKnnGraphG]] round and the [[Ann.refineKnnGraph]]
  * rounds with their XOR-folded `xxhash64` stop rule ([[knnGraph]]),
  * then for a layer the [[Hnsw.heuristicEdges]] pool and
  * [[Hnsw.selectDiverse]], the [[Ann.seedEdges]] quotas and the
  * symmetric closure ([[layerEdges]]). Scores come from
  * [[DotProduct.score]] and every bounded ranking keeps the aggregators'
  * own order ([[TopKAggregator.better]], [[MinKPairAggregator.smaller]]),
  * so the output equals the Spark arm's bit for bit (HnswBuildSpec and
  * KnnGraphSpec pin it). Nodes are addressed by their index in
  * ascending-id order, so index order IS the id tie-break. */
private[graft] object HnswLocal {

  /** A layer's rows in ascending id order: ids, vectors, L2 norms. */
  final class Rows(val ids: Array[Long], val vecs: Array[Array[Float]],
      val nrm: Array[Double]) {
    def n: Int = ids.length
    def keep(p: Int => Boolean): Rows = {
      val ix = ids.indices.filter(p).toArray
      new Rows(ix.map(ids), ix.map(vecs), ix.map(nrm))
    }
  }

  /** Largest |element| the arm accepts: the fixed-point LSH sums
    * (element·10⁶ over ≤ [[Ann.Dim]] planes' dims) then stay far inside
    * a long, where the Spark arm's ANSI casts could overflow. */
  private val MaxAbs = 1e9

  /** The `(vec_id, embedding)` rows of `df` when this arm reproduces
    * the Spark build on them, else None and the caller keeps the Spark
    * arm. Reproducible means: `bigint` ids, unique and negatable;
    * `array<float>` vectors, all of one width ≥ 1, with no null, NaN,
    * infinite or over-[[MaxAbs]] element and a non-zero norm. (A zero
    * vector's cosine divides by zero, which the Spark arm raises under
    * ANSI; handing such a corpus back keeps that behaviour too.) */
  def rowsOf(df: DataFrame): Option[Rows] = {
    val typed = df.schema("vec_id").dataType == LongType &&
      (df.schema("embedding").dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
    if (!typed) return None
    val got = df.select("vec_id", "embedding").collect()
    val rows = got.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) None
      else {
        val xs = r.getSeq[java.lang.Float](1)
        if (xs.exists(x => x == null || !(math.abs(x.floatValue) <= MaxAbs))) None
        else Some(r.getLong(0) -> xs.map(_.floatValue).toArray)
      }
    }.sortBy(_._1)
    val ids = rows.map(_._1)
    val vecs = rows.map(_._2)
    val nrm = vecs.map(v => math.sqrt(DotProduct.dot(v, v)))
    val ok = rows.length == got.length &&
      vecs.forall(v => v.nonEmpty && v.length == vecs(0).length) &&
      nrm.forall(x => x > 0 && !x.isInfinite) &&
      ids.forall(_ != Long.MinValue) &&
      (1 until ids.length).forall(i => ids(i) != ids(i - 1))
    if (ok) Some(new Rows(ids, vecs, nrm)) else None
  }

  private def hash60(s: String): Long = Hash60.compute(UTF8String.fromString(s))

  /** [[Hnsw.qHnswLevels]]' level per id: the largest l ≤ cap with
    * hash60("id:lvl") ≡ 0 (mod 8^l), else 0. */
  def levels(ids: Array[Long], cap: Int): Array[Int] = ids.map { id =>
    val h = hash60(s"$id:lvl")
    (cap to 1 by -1).find(l =>
      h % math.pow(Hnsw.LevelBase.toDouble, l).toLong == 0).getOrElse(0)
  }

  /** A scored graph: per node, neighbor indices and scores in rank order. */
  final class Graph(val nbr: Array[Array[Int]],
      val sc: Array[Array[Double]])

  /** The first `k` of `xs` under the strict order `before` — the
    * aggregators' bounded insert (a candidate that does not beat the
    * last kept one is dropped; otherwise it goes in after every kept
    * element that beats it). */
  private def best(xs: Array[Int], k: Int)(before: (Int, Int) => Boolean): Array[Int] = {
    val buf = new Array[Int](k)
    var size = 0
    xs.foreach { x =>
      if (size < k || before(x, buf(size - 1))) {
        var p = 0
        while (p < size && before(buf(p), x)) p += 1
        var j = math.min(size, k - 1)
        while (j > p) { buf(j) = buf(j - 1); j -= 1 }
        buf(p) = x
        size = math.min(size + 1, k)
      }
    }
    buf.take(size)
  }

  /** Distinct members of `lists` in first-seen order, skipping `self`
    * (one stamp per call marks the members already taken). */
  private final class Dedup(n: Int) {
    private val mark = new Array[Int](n)
    private var stamp = 0
    def apply(self: Int, lists: Iterator[Array[Int]]): Array[Int] = {
      stamp += 1
      val out = Array.newBuilder[Int]
      lists.foreach(_.foreach { y =>
        if (y != self && mark(y) != stamp) { mark(y) = stamp; out += y }
      })
      out.result()
    }
  }

  /** Per-node lists → the reverse lists (sources in ascending order). */
  private def reverse(adj: Array[Array[Int]]): Array[Array[Int]] = {
    val out = Array.fill(adj.length)(Array.newBuilder[Int])
    adj.indices.foreach(u => adj(u).foreach(v => out(v) += u))
    out.map(_.result())
  }

  /** The NN-Descent steps over one set of rows, each the in-memory
    * form of the Spark plan named beside it. */
  private final class Steps(r: Rows) {
    private val n = r.n
    private val dedup = new Dedup(n)
    private def score(i: Int, j: Int): Double =
      DotProduct.score(r.vecs(i), r.nrm(i), r.vecs(j), r.nrm(j))
    // rankGraphCandidates: exact scores, top-k per node
    def rank(cand: Array[Array[Int]], kk: Int): Graph = {
      val nbr = new Array[Array[Int]](n)
      val sc = new Array[Array[Double]](n)
      cand.indices.foreach { x =>
        val c = cand(x)
        val s = c.map(score(x, _))
        val top = best(c.indices.toArray, kk)((a, b) =>
          TopKAggregator.better(r.ids(c(a)), s(a), r.ids(c(b)), s(b)))
        nbr(x) = top.map(c)
        sc(x) = top.map(s)
      }
      new Graph(nbr, sc)
    }
    // cappedReverse: per target, its k best sources by edge score
    def cappedReverse(g: Graph, k: Int): Array[Array[Int]] = {
      val src = Array.fill(n)(Array.newBuilder[Int])
      val srcSc = Array.fill(n)(Array.newBuilder[Double])
      g.nbr.indices.foreach { u =>
        g.nbr(u).indices.foreach { j =>
          src(g.nbr(u)(j)) += u
          srcSc(g.nbr(u)(j)) += g.sc(u)(j)
        }
      }
      Array.tabulate(n) { v =>
        val us = src(v).result()
        val s = srcSc(v).result()
        best(us.indices.toArray, k)((a, b) =>
          TopKAggregator.better(r.ids(us(a)), s(a), r.ids(us(b)), s(b)))
          .map(us)
      }
    }
    // k smallest of each list — the MinKPair aggregate over (id, id)
    def minK(lists: Array[Array[Int]], kk: Int): Array[Array[Int]] =
      lists.map(xs => best(xs, kk)((a, b) =>
        MinKPairAggregator.smaller(r.ids(a), r.ids(a), r.ids(b), r.ids(b))))
    // Ann.seedEdges: the slot join, ≤ kk pseudo-random edges per node
    def seedEdges(kk: Int): Array[Array[Int]] = {
      val slots = math.max(1L, n.toLong / (Ann.SeedProviders * 2))
      val members = Array.fill(slots.toInt)(Array.newBuilder[Int])
      (0 until n).foreach(i =>
        members((hash60(s"${r.ids(i)}:prov") % slots).toInt) += i)
      val providers = minK(members.map(_.result()), Ann.SeedProviders)
      Array.tabulate(n) { u =>
        val req = (0 until kk)
          .map(j => (hash60(s"${r.ids(u)}:seed:$j") % slots).toInt).distinct
        minK(Array(dedup(u, req.iterator.map(providers))), kk)(0)
      }
    }
    // NN-Descent candidates: all pairs sharing an adjacency list ∪ extras
    def localJoin(adj: Array[Array[Int]], extras: Array[Array[Int]]*): Array[Array[Int]] = {
      val memberOf = reverse(adj)
      Array.tabulate(n)(x =>
        dedup(x, memberOf(x).iterator.map(adj) ++ extras.iterator.map(_(x))))
    }
    def union(lists: Array[Array[Int]]*): Array[Array[Int]] =
      Array.tabulate(n)(x => dedup(x, lists.iterator.map(_(x))))
    def checksum(g: Graph): Long = {
      var h = 0L
      g.nbr.indices.foreach(x => g.nbr(x).foreach(y =>
        h ^= XXH64.hashLong(r.ids(y), XXH64.hashLong(r.ids(x), 42L))))
      h
    }
  }

  /** The refined kNN graph of `r` at `geo`: the [[Ann.qKnnJoinG]] base,
    * the seeded [[Ann.qKnnGraphG]] round, then [[Ann.refineKnnGraph]]
    * rounds until the XOR-folded edge checksum repeats or `rounds`
    * rounds have run (1 = the seeded round alone). */
  def knnGraph(r: Rows, geo: AnnGeometry, k: Int, rounds: Int): Graph = {
    val st = new Steps(r)
    import st._
    // qKnnJoinG: bucket-mates in any table, top-k
    val base = rank(bucketMates(r, geo), k)
    // qKnnGraphG: the seeded first round
    val seeds = seedEdges(k)
    var g = rank(localJoin(
      union(base.nbr, cappedReverse(base, k), seeds, minK(reverse(seeds), k)),
      base.nbr, seeds), k)
    // refineKnnGraph: further rounds until the edge checksum repeats
    var sum0 = checksum(g)
    var converged = false
    var round = 1
    while (round < rounds && !converged) {
      val next = rank(localJoin(union(g.nbr, cappedReverse(g, k)), g.nbr), k)
      val s1 = checksum(next)
      converged = s1 == sum0
      sum0 = s1
      g = next
      round += 1
    }
    g
  }

  /** Build one layer's symmetric edge set `(u, v)` as corpus ids. */
  def layerEdges(r: Rows, k: Int, heuristic: Boolean): Array[(Long, Long)] = {
    val g = knnGraph(r, AnnGeometry.forCorpus(r.n), k, Ann.RefineRounds)
    val st = new Steps(r)
    import st._
    val long = seedEdges(Hnsw.LongRangeEdges)
    val picked: Array[Array[Long]] =
      if (heuristic) {
        val pool = rank(union(g.nbr, reverse(g.nbr), long), 3 * k)
        Array.tabulate(r.n) { x =>
          Hnsw.selectDiverse(pool.nbr(x).indices.map { j =>
            val y = pool.nbr(x)(j)
            (pool.sc(x)(j), r.ids(y), r.vecs(y), r.nrm(y))
          }, k).toArray
        }
      } else g.nbr.map(_.map(r.ids))
    val e = picked.indices.flatMap(x => picked(x).map(r.ids(x) -> _)) ++
      long.indices.flatMap(u => long(u).map(v => r.ids(u) -> r.ids(v)))
    (e ++ e.map(_.swap)).distinct.sorted.toArray
  }

  /** [[Ann.lshTables]] at `geo`, then each node's distinct bucket-mates
    * over all tables: fixed-point (×10⁶, HALF_UP) dims against the ±1
    * plane weights, sign bit per plane, `planes`-bit bucket per table. */
  private def bucketMates(r: Rows, geo: AnnGeometry): Array[Array[Int]] = {
    val n = r.n
    val np = geo.planes * geo.tables
    val dims = if (n == 0) 0 else math.min(r.vecs(0).length, Ann.Dim)
    val w = Array.tabulate(np, dims)((p, d) =>
      if (hash60(s"$p:$d") % 2 == 0) 1L else -1L)
    val bucket = Array.ofDim[Long](n, geo.tables)
    (0 until n).foreach { i =>
      val se = Array.tabulate(dims)(d =>
        DotProduct.roundHalfUp(r.vecs(i)(d).toDouble * 1000000, 0).toLong)
      (0 until np).foreach { p =>
        var s = 0L
        var d = 0
        while (d < dims) { s += se(d) * w(p)(d); d += 1 }
        if (s >= 0) bucket(i)(p / geo.planes) += 1L << (p % geo.planes)
      }
    }
    val byTable = (0 until geo.tables).map(t =>
      (0 until n).groupBy(i => bucket(i)(t)).map { case (b, is) => b -> is.toArray })
    val dedup = new Dedup(n)
    Array.tabulate(n)(i => dedup(i,
      (0 until geo.tables).iterator.map(t => byTable(t)(bucket(i)(t)))))
  }
}
