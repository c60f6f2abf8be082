package graft

/** Property test: distributed min-label propagation equals a reference
  * union-find on random pair graphs (the fixpoint must be the component
  * minimum regardless of edge order or graph shape). Seeded generator —
  * deterministic across runs.
  */
class ConnectedComponentsProps extends SparkSpec {
  import spark.implicits._

  private def unionFind(n: Int, pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(v => v.toLong -> find(v).toLong).toMap
  }

  test("single-task union-find path equals reference union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 6) {
      val n = 2 + rnd.nextInt(29)
      val edges = Seq.fill(rnd.nextInt(26)) {
        val a = rnd.nextInt(n); var b = rnd.nextInt(n)
        while (b == a) b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }
      val vertices = (0L until n.toLong).toDF("doc_id")
      val pairs = edges.toDF("doc_a", "doc_b")
      val got = graft.ops.Dedup
        .connectedComponents(vertices, pairs, maxIters = 40)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(n, edges), s"n=$n edges=$edges")
    }
  }

  test("distributed propagation path equals reference union-find on random graphs") {
    // singleTaskBytes = 0 forces the min-label loop (+ star fallback
    // when depth exhausts the budget): with the union-find shortcut
    // handling every dup-pair-sized graph, this property run is what
    // keeps the distributed path honest on arbitrary shapes
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 4) {
      val n = 2 + rnd.nextInt(29)
      // at least one edge: the size<=limit gate routes a randomly EMPTY
      // edge set to union-find even under the limit=0 pin, and that
      // iteration would exercise nothing distributed
      val edges = Seq.fill(1 + rnd.nextInt(25)) {
        val a = rnd.nextInt(n); var b = rnd.nextInt(n)
        while (b == a) b = rnd.nextInt(n)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }
      val vertices = (0L until n.toLong).toDF("doc_id")
      val pairs = edges.toDF("doc_a", "doc_b")
      val got = graft.ops.Dedup
        .connectedComponents(vertices, pairs, maxIters = 40,
          singleTaskBytes = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(!graft.ops.Regime.last("union_find").get.small)
      assert(got == unionFind(n, edges), s"n=$n edges=$edges")
    }
  }
}
