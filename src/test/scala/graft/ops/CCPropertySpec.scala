package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property test for connected components ([[Dedup.connectedComponents]],
  * star contraction) against an INDEPENDENT driver-side union-find on
  * random graphs — chains, stars, uniform random edge soups, and mixed
  * multi-component graphs with duplicate / reversed / self-loop edges.
  * The r4 oracle exercised one distribution shape (replica fans); this
  * pins min-of-component labeling across arbitrary shapes.
  */
class CCPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("cc-property-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def forAll[A](g: Gen[A], minSuccessful: Int)(f: A => Unit): Unit = {
    var produced = 0
    var seed = 777L
    while (produced < minSuccessful) {
      g.apply(Gen.Parameters.default, Seed(seed)) match {
        case Some(a) => f(a); produced += 1
        case None => ()
      }
      seed += 1
    }
  }

  /** Path-compressing union-find with union-by-min: the root of every
    * tree is the minimum id of the merged components, so `find` yields
    * exactly the label contract (min doc_id per component). */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
  }

  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 50)
    shape <- Gen.oneOf("random", "chain", "star", "mixed")
    random <- Gen.listOfN(n, for {
      a <- Gen.choose(0L, n.toLong)
      b <- Gen.choose(0L, n.toLong)
    } yield (a, b))
  } yield shape match {
    case "chain" => (0 until n - 1).map(i => (i.toLong, i + 1L))
    case "star" => (1 until n).map(i => (0L, i.toLong))
    case "random" => random
    case "mixed" =>
      // disjoint chain + star + a self-loop singleton + reversed dups
      val chain = (0 until n / 2).map(i => (i.toLong, i + 1L))
      val star = (1 until n / 2 + 1).map(i => (100L, 100L + i))
      chain ++ star ++ star.map(_.swap) ++ Seq((500L, 500L))
  }

  test("star CC == driver union-find on random graph shapes") {
    val s = spark; import s.implicits._
    forAll(graphGen, 6) { edges =>
      val expected = unionFind(edges)
      val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"), 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"star labels diverge from union-find on $edges")
      assert(spark.sharedState.cacheManager.isEmpty)
    }
  }
}
