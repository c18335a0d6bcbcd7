package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.social.{SocialGraph, SocialGraphService}
import graft.store.GraphStore

/** End-to-end REST serving tests: a real HTTP server on an ephemeral
  * port, driven over the wire — the reference's social-network-api
  * route table exercised verb by verb.
  */
class SocialGraphServiceSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new ObjectMapper()

  private def call(port: Int, method: String, path: String,
      bodyJson: String = null): (Int, JsonNode) = {
    val url = URI.create(s"http://127.0.0.1:$port$path").toURL
    val c = url.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (bodyJson != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      c.getOutputStream.write(bodyJson.getBytes(StandardCharsets.UTF_8))
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val node = mapper.readTree(new String(in.readAllBytes(), StandardCharsets.UTF_8))
    c.disconnect()
    (code, node)
  }

  test("REST facade serves the full reference route table") {
    val g = new SocialGraph(spark, new GraphStore(Map.empty, Map.empty))
    val svc = new SocialGraphService(g, 0)
    svc.start()
    val p = svc.boundPort
    try {
      assert(call(p, "GET", "/health")._2.get("status").asText() == "ok")

      // user CRUD + conflict + 404
      for (k <- 1 to 5)
        assert(call(p, "POST", "/api/v1/users",
          s"""{"key":$k,"username":"user$k"}""")._1 == 201)
      assert(call(p, "POST", "/api/v1/users",
        """{"key":1,"username":"dup"}""")._1 == 409)
      val got = call(p, "GET", "/api/v1/users/3")
      assert(got._1 == 200 && got._2.get("username").asText() == "user3")
      assert(call(p, "GET", "/api/v1/users/99")._1 == 404)
      assert(call(p, "PUT", "/api/v1/users/3",
        """{"username":"renamed"}""")._1 == 200)
      assert(call(p, "GET", "/api/v1/users/3")._2
        .get("username").asText() == "renamed")

      // follows: 1→2, 1→3, 2→4, 3→4, 2→5 (the C4 fixture shape)
      for ((a, b, at) <- Seq((1, 2, 100), (1, 3, 101), (2, 4, 102),
          (3, 4, 103), (2, 5, 104)))
        assert(call(p, "POST", s"/api/v1/users/$a/follow/$b",
          s"""{"at":$at}""")._1 == 200)
      val fl = call(p, "GET", "/api/v1/users/1/following")._2.get("following")
      assert(fl.size() == 2)
      // dangling follow 404s both ways (the reference's existence checks)
      assert(call(p, "POST", "/api/v1/users/1/follow/99",
        """{"at":1}""")._1 == 404)
      assert(call(p, "POST", "/api/v1/users/99/follow/1",
        """{"at":1}""")._1 == 404)
      assert(call(p, "GET", "/api/v1/users/1/following")._2
        .get("following").size() == 2) // and created no edge
      assert(call(p, "GET", "/api/v1/users/4/followers")._2
        .get("followers").size() == 2)

      // suggestions rank 4 (two paths) first
      val sug = call(p, "GET", "/api/v1/users/1/suggested-friends")._2
        .get("suggestions")
      assert(sug.get(0).get("key").asLong() == 4L &&
        sug.get(0).get("paths").asLong() == 2L)

      // network analysis 1 → 4: a 2-hop path, no mutual follows
      val net = call(p, "GET", "/api/v1/users/1/network?target=4")._2
      assert(net.get("degrees_of_separation").asLong() == 2L)
      assert(net.get("path").size() == 3 &&
        net.get("path").get(0).asLong() == 1L &&
        net.get("path").get(2).asLong() == 4L)

      // timeline before ANY posts exist is an empty list, not an error
      assert(call(p, "GET", "/api/v1/users/1/timeline")._2
        .get("timeline").size() == 0)

      // posts + timeline (1 follows 2 and 3; newest first)
      assert(call(p, "POST", "/api/v1/posts",
        """{"key":10,"user":2,"content":"hello","at":1000}""")._1 == 201)
      assert(call(p, "POST", "/api/v1/posts",
        """{"key":11,"user":3,"content":"world","at":2000}""")._1 == 201)
      assert(call(p, "POST", "/api/v1/posts",
        """{"key":10,"user":2,"content":"dup","at":3000}""")._1 == 409)
      val post = call(p, "GET", "/api/v1/posts/10")._2
      assert(post.get("content").asText() == "hello" &&
        post.get("author").asLong() == 2L)
      val tl = call(p, "GET", "/api/v1/users/1/timeline")._2.get("timeline")
      assert(tl.size() == 2 && tl.get(0).get("post").asLong() == 11L)

      // likes: idempotent like, listed newest first, unlike removes
      assert(call(p, "POST", "/api/v1/posts/10/like",
        """{"user":4,"at":10}""")._1 == 200)
      assert(call(p, "POST", "/api/v1/posts/10/like",
        """{"user":5,"at":20}""")._1 == 200)
      assert(call(p, "POST", "/api/v1/posts/10/like",
        """{"user":4,"at":30}""")._1 == 200) // duplicate — must not double
      val likes = call(p, "GET", "/api/v1/posts/10/likes")._2.get("likes")
      assert(likes.size() == 2 && likes.get(0).get("key").asLong() == 5L)
      assert(call(p, "DELETE", "/api/v1/posts/10/like?user=5")._1 == 200)
      assert(call(p, "GET", "/api/v1/posts/10/likes")._2
        .get("likes").size() == 1)
      // dangling like / authorless post 404 (reference existence checks)
      assert(call(p, "POST", "/api/v1/posts/10/like",
        """{"user":99,"at":40}""")._1 == 404)
      assert(call(p, "POST", "/api/v1/posts/99/like",
        """{"user":4,"at":40}""")._1 == 404)
      assert(call(p, "GET", "/api/v1/posts/10/likes")._2
        .get("likes").size() == 1) // no edge appeared
      assert(call(p, "POST", "/api/v1/posts",
        """{"key":12,"user":99,"content":"orphan","at":1}""")._1 == 404)
      assert(call(p, "GET", "/api/v1/posts/12")._1 == 404)

      // delete user 2 detaches: follows gone, 404 afterwards, post survives
      assert(call(p, "DELETE", "/api/v1/users/2")._1 == 200)
      assert(call(p, "GET", "/api/v1/users/2")._1 == 404)
      assert(call(p, "GET", "/api/v1/users/4/followers")._2
        .get("followers").size() == 1)
      assert(call(p, "GET", "/api/v1/users/1/following")._2
        .get("following").size() == 1)
      // authorless post survives (the reference keeps them too)
      assert(call(p, "GET", "/api/v1/posts/10")._2.get("author").asLong() == -1L)

      // delete post removes it and its likes
      assert(call(p, "DELETE", "/api/v1/posts/10")._1 == 200)
      assert(call(p, "GET", "/api/v1/posts/10")._1 == 404)
      assert(call(p, "GET", "/api/v1/posts/10/likes")._2
        .get("likes").size() == 0)

      // unknown route and malformed input fail loud, not 500-silent
      assert(call(p, "GET", "/api/v1/nope")._1 == 404)
      assert(call(p, "POST", "/api/v1/users", """{"username":"nokey"}""")._1 == 400)
      assert(call(p, "GET", "/api/v1/users/1/network")._1 == 400)
    } finally svc.stop()
  }
}
