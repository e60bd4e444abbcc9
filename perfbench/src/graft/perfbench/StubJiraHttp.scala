package graft.perfbench

import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import graft.sources.JiraHttp

/** A Jira search endpoint served from memory. `bodies` maps
  * `<PROJ>_<startAt>` to the search response for that page; `script`
  * maps the same key to the statuses (429 or 5xx) served, in order,
  * before the page's 200. A page the bodies do not hold is an empty
  * result. No socket is opened.
  */
final class StubJiraHttp(bodies: Map[String, String],
                         script: Map[String, Seq[Int]]) extends JiraHttp {
  private val attempts = mutable.Map[String, Int]().withDefaultValue(0)
  var requests = 0
  var scriptedFailures = 0

  private def param(url: String, name: String): Option[String] =
    url.split("[?&]").collectFirst {
      case kv if kv.startsWith(name + "=") =>
        URLDecoder.decode(kv.drop(name.length + 1), StandardCharsets.UTF_8)
    }

  override def get(url: String): (Int, String) = {
    requests += 1
    val project = param(url, "jql").map(_.split("\\s+")(0)
      .stripPrefix("project=")).getOrElse("")
    val startAt = param(url, "startAt").getOrElse("0")
    val key = s"${project}_$startAt"
    val n = attempts(key)
    attempts(key) = n + 1
    val fails = script.getOrElse(key, Nil)
    if (n < fails.length) {
      scriptedFailures += 1
      (fails(n), """{"errorMessages":["scripted failure"]}""")
    } else
      (200, bodies.getOrElse(key,
        s"""{"startAt":$startAt,"maxResults":50,"total":0,"issues":[]}"""))
  }
}

object StubJiraHttp {

  /** The seconds `JiraSource.getWithRetries` asks to sleep for one page's
    * scripted failures: the rate-limit sleep per 429, `base ** attempt`
    * per 5xx, where every failure advances `attempt`.
    */
  def expectedBackoff(fails: Seq[Int], rateLimit: Double,
                      base: Double): Double =
    fails.zipWithIndex.map { case (status, attempt) =>
      if (status == 429) rateLimit else math.pow(base, attempt)
    }.sum
}
