package graft

import graft.frontier.Frontier
import graft.frontier.Frontier.BucketRow
import graft.functions.UrlFns
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** The per-bucket round merge ([[Frontier.mergeBucket]]) against a
  * collection-level reference of the merge it replaced: union the pool
  * rows (src 0), the candidates (src 1) and the visit marks, group by url
  * keeping the minimum (src, depth, discovered_at) and the latest visit,
  * drop archived urls and visited rows, sort by (host, depth,
  * discovered_at, url). */
object BucketMergeProperties extends Properties("graft.bucketMerge") {

  // byte order differs from a naive label order: '-' < '.' < '0'
  private val hosts = Seq("h1.test", "h1-b.test", "h10.test", "h2.test", "a.test")
  private val urlGen: Gen[String] =
    for (h <- Gen.oneOf(hosts); p <- Gen.choose(0, 9)) yield s"http://$h/p/$p"
  private val prioGen: Gen[(Int, Long)] =
    for (d <- Gen.choose(0, 3); t <- Gen.choose(0L, 5L)) yield (d, t)

  private def row(url: String, d: Int, t: Long): BucketRow =
    BucketRow(UTF8String.fromString(url), UTF8String.fromString(UrlFns.hostOf(url)), d, t)

  /** One bucket's round: its pool, the urls visited this round (popped
    * pool rows plus re-popped archived ones), the archive and the
    * candidates, duplicates and collisions with all three included. */
  final case class Round(pool: Map[String, (Int, Long)], visited: Set[String],
      archived: Set[String], cands: Seq[(String, (Int, Long))])

  private val roundGen: Gen[Round] = for {
    poolUrls <- Gen.frequency(1 -> Gen.const(Set.empty[String]),
      6 -> Gen.containerOf[Set, String](urlGen))
    prios <- Gen.listOfN(poolUrls.size, prioGen)
    popped <- Gen.frequency(1 -> Gen.const(poolUrls.toSeq),
      4 -> Gen.someOf(poolUrls.toSeq).map(_.toSeq))
    others <- Gen.containerOf[Set, String](urlGen).map(_ -- poolUrls)
    split <- Gen.choose(0, others.size)
    // half the candidate urls collide with a pool, visited or archived url
    known = (poolUrls ++ others).toSeq.sorted
    candUrl = if (known.isEmpty) urlGen else Gen.frequency(1 -> urlGen, 1 -> Gen.oneOf(known))
    cands <- Gen.frequency(1 -> Gen.const(Nil), 6 -> Gen.listOf(Gen.zip(candUrl, prioGen)))
  } yield {
    val (archived, repopped) = others.toSeq.sorted.splitAt(split)
    Round(poolUrls.toSeq.sorted.zip(prios).toMap, popped.toSet ++ repopped,
      archived.toSet, cands)
  }

  private def reference(rd: Round): Seq[(String, Int, Long)] = {
    val marks = rd.visited.toSeq.map(u => u -> (0, 0, 0L, 1))
    val pool = rd.pool.toSeq.map { case (u, (d, t)) => u -> (0, d, t, 0) }
    val cands = rd.cands.map { case (u, (d, t)) => u -> (1, d, t, 0) }
    (pool ++ cands ++ marks).groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val (_, d, t, _) = rows.map(_._2).minBy(x => (x._1, x._2, x._3))
      val visit = rows.map(_._2._4).max
      if (rd.archived(u) || visit > 0) None else Some((u, d, t))
    }.sortWith { case ((u1, d1, t1), (u2, d2, t2)) =>
      val h1 = UrlFns.hostOf(u1)
      val h2 = UrlFns.hostOf(u2)
      if (h1 != h2) h1 < h2 else if (d1 != d2) d1 < d2 else if (t1 != t2) t1 < t2 else u1 < u2
    }
  }

  private def merged(rd: Round): Seq[(String, Int, Long)] = {
    val pool = rd.pool.toSeq.map { case (u, (d, t)) => row(u, d, t) }.sorted(Frontier.fileOrder)
    val visited = rd.visited.map(UTF8String.fromString)
    val archived = rd.archived.map(UTF8String.fromString)
    Frontier.mergeBucket(pool.iterator, rd.cands.iterator.map { case (u, (d, t)) => row(u, d, t) },
      visited.contains, archived.contains)
      .map(r => (r.url.toString, r.depth, r.discoveredAt)).toSeq
  }

  property("mergeBucket ≡ union-aggregate-probe-sort reference") = forAll(roundGen) { rd =>
    val emptied = rd.pool.nonEmpty && rd.pool.keySet.subsetOf(rd.visited) && rd.cands.isEmpty
    Prop.collect(if (rd.pool.isEmpty) "new bucket" else if (emptied) "emptied by pops" else "pool")(
      Prop.classify(rd.cands.map(_._1).distinct.size < rd.cands.size, "duplicate candidates")(
        Prop.classify(rd.cands.exists(c => rd.pool.contains(c._1)), "candidate in pool")(
          Prop.classify(rd.cands.exists(c => rd.visited(c._1)), "candidate visited")(
            Prop.classify(rd.cands.exists(c => rd.archived(c._1)), "candidate archived")(
              merged(rd) == reference(rd))))))
  }

  property("a bucket emptied by its pops merges to nothing") =
    forAll(Gen.containerOf[Set, String](urlGen), prioGen) { (urls, p) =>
      merged(Round(urls.map(_ -> p).toMap, urls, Set.empty, Nil)).isEmpty
    }

  property("a new bucket is its candidates, deduplicated and sorted") =
    forAll(Gen.listOf(Gen.zip(urlGen, prioGen))) { cands =>
      val rd = Round(Map.empty, Set.empty, Set.empty, cands)
      merged(rd) == reference(rd) && merged(rd).map(_._1).distinct.size == cands.map(_._1).distinct.size
    }
}
