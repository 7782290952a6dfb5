package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.UrlNormalizeExpression.normalize
import graft.functions.UrlResolveExpression.resolve

/** Property-style hardening for the link family: invariants that must
  * hold over GENERATED inputs, complementing the vector-table and
  * fixture specs. Seeded RNG — every run checks the same cases. */
class LinkPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(15L)
  private def seg(): String = {
    val alpha = "abcdefgh"
    (0 until 1 + rnd.nextInt(4)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
  }

  test("resolve: an absolute result is a fixed point, and normalize is stable over it") {
    for (_ <- 0 until 500) {
      val base = s"http://${seg()}.example/${seg()}/${seg()}"
      val ref = ("../" * rnd.nextInt(2)) + seg() +
        (if (rnd.nextBoolean()) "?" + seg() + "=" + seg() else "")
      val r = resolve(base, ref)
      assert(r != null)
      // resolving an already-absolute URI against anything returns it
      assert(resolve(base, r) == r)
      assert(resolve("http://other.example/x", r) == r)
      // canonicalization is idempotent over resolved output
      val n = normalize(r)
      assert(normalize(n) == n)
    }
  }

  test("extractLinks: every constructed anchor is recovered in order, none invented") {
    for (trial <- 0 until 30) {
      val n = 1 + rnd.nextInt(8)
      val hrefs = (0 until n).map(i => s"/p$trial/x$i")
      val quoted = hrefs.map { h =>
        rnd.nextInt(3) match {
          case 0 => s"""<a href="$h">t</a>"""
          case 1 => s"<a href='$h'>t</a>"
          case _ => s"<a href=$h>t</a>"
        }
      }
      val html = s"<html><body>${quoted.mkString("<p>junk</p>")}</body></html>"
      val pages = Seq((trial.toLong, "http://h.example/b", html))
        .toDF("doc_id", "url", "html")
      val got = graft.ops.LinkOps.extractLinks(pages)
        .orderBy("link_pos").select("link_pos", "dst_url")
        .as[(Int, String)].collect().toSeq
      assert(got == hrefs.zipWithIndex.map { case (h, i) =>
        i -> s"http://h.example$h"
      })
    }
  }

  test("redirectChains: row order never changes the result; hops bounded") {
    def u(i: Int) = s"http://r/$i"
    val edges = Seq(
      u(0) -> u(1), u(1) -> u(2), u(2) -> u(3),
      u(10) -> u(11), u(11) -> u(10), // cycle
      u(20) -> u(21))
    val a = graft.ops.LinkOps.redirectChains(edges.toDF("url", "location"), 4)
      .orderBy("url").collect().map(_.toSeq).toSeq
    val b = graft.ops.LinkOps.redirectChains(
        new scala.util.Random(7).shuffle(edges).toDF("url", "location"), 4)
      .orderBy("url").collect().map(_.toSeq).toSeq
    assert(a == b)
    assert(a.forall(r => r(2).asInstanceOf[Int] <= 4))
  }

  test("hashNearDups: output is order-insensitive and a < b always holds") {
    val twoHashes = 7L << 20
    val hashes = (0 until 40).map(i => (i.toLong, rnd.nextLong())) ++
      Seq((100L, 42L), (101L, 42L | (1L << 7))) ++ // planted hamming-1 pair
      // non-unique ids: one id under two hashes one bit apart, and
      // repeated (id, hash) rows across and within a hash group
      Seq((200L, twoHashes), (200L, twoHashes ^ 1L),
        (100L, 42L), (300L, 99L << 30), (300L, 99L << 30), (301L, 99L << 30))
    val fwd = graft.ops.Dedup.hashNearDups(
        hashes.toDF("media_id", "dhash"), "media_id", "dhash")
      .orderBy("a", "b").collect().map(_.toSeq).toSeq
    val rev = graft.ops.Dedup.hashNearDups(
        hashes.reverse.toDF("media_id", "dhash"), "media_id", "dhash")
      .orderBy("a", "b").collect().map(_.toSeq).toSeq
    assert(fwd == rev)
    assert(fwd.exists(r => r(0) == 100L && r(1) == 101L))
    assert(fwd.exists(r => r(0) == 300L && r(1) == 301L))
    assert(fwd.forall(r => r(0).asInstanceOf[Long] < r(1).asInstanceOf[Long]))
    val pairs = fwd.map(r => (r(0), r(1)))
    assert(pairs.distinct.size == pairs.size, s"duplicate pairs in $pairs")
  }
}
