package graft.api

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import com.fasterxml.jackson.databind.ObjectMapper

/** The declarative parts of the reference's API framework above the
  * pagination loop (core/dbio/api/spec.go):
  *
  *   - endpoint DAG with `depends_on` + topological scheduling — independent
  *     endpoints run concurrently, dependents wait (spec.go:643-804);
  *   - response-rule retries with backoff (spec.go:1370-1399);
  *   - processors folding record fields into shared state with
  *     max/min/first/last/collect/count aggregations (spec.go:1343-1368);
  *   - iteration: an endpoint templated over a state list, one sub-extraction
  *     per value (spec.go:1051-1070);
  *   - auth header construction: static bearer / basic / api-key
  *     (spec.go:269-280; token *acquisition* flows are transport concerns).
  *
  * Everything here is driver-side interpretation (as in the reference); the
  * extracted JSONL lands in staging for a distributed Spark read.
  */
object ApiSpec {

  final case class Processor(field: String, agg: String, stateKey: String)

  final case class Endpoint(
      spec: ApiExtractor.EndpointSpec,
      dependsOn: Seq[String] = Nil,
      iterateOver: Option[String] = None, // state key holding a Seq of values
      processors: Seq[Processor] = Nil)

  final case class RetryPolicy(maxAttempts: Int = 3, backoffMs: Long = 10,
      multiplier: Double = 2.0)

  // ---- auth (spec.go:269-280) -------------------------------------------

  /** Render auth configuration to request headers. */
  def authHeaders(kind: String, conf: Map[String, String]): Map[String, String] =
    kind match {
      case "bearer" => Map("Authorization" -> s"Bearer ${conf("token")}")
      case "basic" =>
        val cred = java.util.Base64.getEncoder.encodeToString(
          s"${conf("username")}:${conf("password")}"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Map("Authorization" -> s"Basic $cred")
      case "api-key" =>
        Map(conf.getOrElse("header", "X-API-Key") -> conf("key"))
      case "none" => Map.empty
      case other => throw new IllegalArgumentException(s"auth kind $other")
    }

  // ---- retry (spec.go:1370-1399) ----------------------------------------

  /** Wrap a transport with retry + exponential backoff. */
  def withRetry(t: ApiExtractor.Transport, policy: RetryPolicy): ApiExtractor.Transport =
    (url, params) => {
      var attempt = 0
      var delay = policy.backoffMs
      var last: Throwable = null
      var result: Option[String] = None
      while (result.isEmpty && attempt < policy.maxAttempts) {
        try result = Some(t(url, params))
        catch {
          case e: Exception =>
            last = e
            attempt += 1
            if (attempt < policy.maxAttempts) {
              Thread.sleep(delay)
              delay = (delay * policy.multiplier).toLong
            }
        }
      }
      result.getOrElse(throw new RuntimeException(
        s"transport failed after ${policy.maxAttempts} attempts", last))
    }

  // ---- processors (spec.go:1343-1368) -----------------------------------

  private val mapper = new ObjectMapper()

  /** Fold extracted records into state under each processor's key. */
  def applyProcessors(records: Seq[String], procs: Seq[Processor],
      state: mutable.Map[String, Any]): Unit = procs.foreach { p =>
    val vals = records.map(r => mapper.readTree(r).path(p.field)).collect {
      case n if n.isNumber => n.asLong: Any
      case n if n.isTextual => n.asText: Any
    }
    if (vals.nonEmpty || p.agg == "count" || p.agg == "collect") {
      val folded: Any = p.agg match {
        case "max" => vals.maxBy(anyKey)
        case "min" => vals.minBy(anyKey)
        case "first" => vals.head
        case "last" => vals.last
        case "collect" => vals
        case "count" => vals.size.toLong
        case other => throw new IllegalArgumentException(s"agg $other")
      }
      state(p.stateKey) = folded
    }
  }

  private def anyKey(a: Any): (Long, String) = a match {
    case l: Long => (l, "")
    case s: String => (Long.MinValue, s)
  }

  // ---- templating ({state.k} / {value}) ---------------------------------

  def render(template: String, state: collection.Map[String, Any],
      value: Option[Any] = None): String = {
    val withVal = value.fold(template)(v => template.replace("{value}", v.toString))
    graft.util.Dag.renderState(withVal, state)
  }

  // ---- DAG scheduling (spec.go:643-804) ---------------------------------

  /** Kahn topological sort into parallel levels; cycles are an error. */
  def topoLevels(eps: Seq[Endpoint]): Seq[Seq[Endpoint]] =
    graft.util.Dag.topoLevels[Endpoint](eps, _.spec.name, _.dependsOn)

  /** Run the endpoint DAG: levels sequential, endpoints within a level
    * concurrent. Returns records per endpoint name. Processors run after
    * each endpoint completes, so dependents can template over its state.
    */
  def run(eps: Seq[Endpoint], transport: ApiExtractor.Transport,
      retry: RetryPolicy = RetryPolicy()): Map[String, Seq[String]] = {
    val t = withRetry(transport, retry)
    val state = mutable.Map[String, Any]()
    val out = mutable.Map[String, Seq[String]]()
    implicit val ec: ExecutionContext = ExecutionContext.global
    topoLevels(eps).foreach { level =>
      val futures = level.map { ep =>
        Future {
          val recs = ep.iterateOver match {
            case None =>
              val spec = ep.spec.copy(url = render(ep.spec.url, state))
              ApiExtractor.extract(spec, t)
            case Some(listKey) =>
              val values = state.getOrElse(listKey, Seq.empty)
                .asInstanceOf[Seq[Any]]
              values.flatMap { v =>
                val spec = ep.spec.copy(
                  url = render(ep.spec.url, state, Some(v)))
                ApiExtractor.extract(spec, t)
              }
          }
          ep -> recs
        }
      }
      // state mutation stays on the driver thread, after the level's barrier
      Await.result(Future.sequence(futures), Duration.Inf).foreach {
        case (ep, recs) =>
          out(ep.spec.name) = recs
          applyProcessors(recs, ep.processors, state)
      }
    }
    out.toMap
  }
}
