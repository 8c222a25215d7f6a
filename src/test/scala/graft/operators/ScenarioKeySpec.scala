package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Every release-state scenario tree is content-keyed on its corpus plus a
  * hand-written suffix (`Scenario.keySuffix`), and the tree dir is
  * the md5 of that key. A suffix changed by accident silently orphans the
  * cached tree and rebuilds it; a suffix copy-pasted from another scenario
  * makes two scenarios share one tree. This pins every suffix to its
  * literal and keeps tags and suffixes pairwise distinct. No Spark.
  */
class ScenarioKeySpec extends AnyFunSuite {
  import ReleaseStream.Scenarios._

  private val pinned = Seq(
    Base -> ("relstream", "|nb=3|v=2|lay=1f"),
    Gated -> ("relstreamgated", "|nb=3|gate=docv1|v=2|lay=1f"),
    Refolded -> ("relstreamrefold",
      "|nb=3|gate=docv1|recrawl=nullmod13|v=1|lay=1f"),
    PolicyRefolded -> ("relstreamrefoldpol",
      "|nb=5|gate=docv1|recrawl=nullmod13+late11|refold=2|v=1|lay=1f"),
    Updated -> ("relstreamupd",
      "|nb=4|gate=docv1|recrawl=rev2mod9|upd=1|v=1|lay=1f"),
    SelfMaintaining -> ("relstreamself",
      "|nb=5|gate=docv1|null13|rev2mod9|upd=1|ce=2|re=2|v=1|lay=1f"),
    Archived -> ("relstreamselfarc",
      "|nb=5|gate=docv1|null13|rev2mod9|upd=1|ce=2|re=2|ae=2|v=1|lay=1f"),
    KeyedGated -> ("relstreamkeyed",
      "|nb=4|gate=docv1+uniq+refemb|v=3|lay=1f"))

  test("every scenario's tag and key suffix equal their pinned literals") {
    assert(pinned.map(_._1) === all, "pin every scenario, in catalog order")
    pinned.foreach { case (sc, (tag, suffix)) =>
      assert(sc.tag === tag)
      assert(sc.keySuffix ===
        "|cap=20|pl=20|ct=100|t=800" + suffix, s"key suffix of $tag")
    }
  }

  test("tags and key suffixes are pairwise distinct") {
    assert(all.map(_.tag).distinct.size === all.size,
      all.map(_.tag).mkString(", "))
    assert(all.map(_.keySuffix).distinct.size === all.size,
      all.map(_.keySuffix).mkString(", "))
  }
}
