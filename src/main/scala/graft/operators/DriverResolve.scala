package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one mechanism behind the engine's driver fast paths: an input
  * small enough to resolve on the driver is collected and resolved
  * locally, anything else runs the site's unchanged distributed path
  * (the per-micro-batch "small on the driver, distributed otherwise"
  * choice). The sites are [[graft.streaming.SigGate]] (serving the
  * near-dup, Hamming and video gates), [[graft.streaming.BudgetGate]],
  * [[Frontier.expandSitemaps]] and [[Dedup.connectedComponents]].
  * Each keeps its own size rule as a named cap; what they share lives
  * here:
  *  - the switch [[Key]], default on. Off forces every site onto its
  *    distributed path, the reference the parity specs compare
  *    against;
  *  - [[take]], the capped collect;
  *  - [[sparkOrdering]] and [[UnionFind]]: min-label components in the
  *    order Spark's `min` uses, so the driver picks the same component
  *    roots as the distributed path;
  *  - the engagement registry. A resolve on the driver counts as
  *    [[engaged]]; a route to the distributed path while the switch is
  *    on counts as [[fellBack]] with its reason. Parity specs assert
  *    engagement through it, so a silently declining route cannot make
  *    a driver-vs-distributed comparison pass vacuously.
  */
object DriverResolve {

  val Key = "spark.graft.driverResolve"

  def enabled(spark: SparkSession): Boolean =
    spark.conf.get(Key, "true").toBoolean

  /** `df`'s rows, or None when it has more than `cap` rows. The
    * `limit(cap + 1)` short-circuits, so an over-cap input costs one
    * bounded scan before the caller routes it distributed.
    */
  def take(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows)
  }

  /** The order Spark's `min` and `orderBy` give values of type `dt`:
    * long order for integral types, unsigned UTF-8 byte order for
    * strings (`java.lang.String`'s UTF-16 order differs from it for
    * supplementary characters against BMP characters above U+E000).
    * None for any other type: ids of those types resolve distributed.
    */
  def sparkOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(Ordering.Long.on[Any](_.asInstanceOf[Number].longValue))
    case StringType => Some(new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        UTF8String.fromString(a.asInstanceOf[String])
          .binaryCompare(UTF8String.fromString(b.asInstanceOf[String]))
    })
    case _ => None
  }

  /** Min-label union-find with path compression. A union keeps the
    * smaller root under `ord`, so every root is its component's
    * minimum id: the label the distributed min-label loop converges
    * to.
    */
  final class UnionFind(ord: Ordering[Any]) {
    private val parent = scala.collection.mutable.HashMap.empty[Any, Any]

    /** Ids that appeared in a union. */
    def ids: Iterator[Any] = parent.keysIterator

    /** `x`'s root; an id never unioned is its own root. */
    def find(x: Any): Any =
      if (!parent.contains(x)) x
      else {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }

    def union(a: Any, b: Any): Unit = {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ord.lt(ra, rb)) parent(rb) = ra
      else if (ord.lt(rb, ra)) parent(ra) = rb
    }
  }

  // ---- engagement registry ----
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val log = org.slf4j.LoggerFactory.getLogger("graft.DriverResolve")

  private def bump(key: String): Unit = {
    counts.computeIfAbsent(key, _ => new AtomicLong).incrementAndGet()
    ()
  }

  /** `site` resolved one input on the driver. */
  def engaged(site: String): Unit = bump(site)

  /** `site` routed one input to its distributed path, for `reason`. */
  def fellBack(site: String, reason: String): Unit = {
    bump(s"$site/$reason")
    log.info(s"$site: $reason, resolving distributed")
  }

  /** Counts this JVM: `site` → engaged, `site/reason` → fallbacks. */
  def snapshot(): Map[String, Long] =
    counts.asScala.iterator.map { case (k, v) => k -> v.get }.toMap
}
