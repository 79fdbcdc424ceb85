package graft.catalog

import java.io.IOException
import java.net.{InetAddress, InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Duration

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Object-store commit publication — the "one implementation of one
  * method" the [[CommitPrimitive]] seam promises.
  *
  * Real object stores expose exactly the contract the log needs as a
  * CONDITIONAL WRITE: S3 `PUT` with `If-None-Match: *` (public API
  * since 2024), GCS `x-goog-if-generation-match: 0`, Azure Blob
  * `If-None-Match: *` — the store linearizes racing uploads of one key
  * and fails every loser with HTTP 412. [[HttpCommitPrimitive]] speaks
  * that dialect over plain HTTP; [[HttpCasServer]] is the
  * sandbox-realistic store stand-in (a loopback server that arbitrates
  * the compare-and-set server-side and lands winners as whole files,
  * so readers keep their ordinary listed-object view — the same
  * read-after-write visibility the real stores give committed PUTs).
  * [[LatencyCommitPrimitive]] injects the wide-area round-trip into
  * conditional puts (SCALE.md "Round 11: multi-writer commit throughput
  * under contention" records throughput at realistic put latencies).
  * Everything above the seam — optimistic conflicts,
  * snapshot isolation, checkpoints, vacuum — is untouched:
  * CommitRaceProcessSpec drives the same cross-process races through
  * this primitive as through the POSIX one.
  */
final class HttpCommitPrimitive(endpoint: String, root: Path)
    extends CommitPrimitive {

  private val storeRoot = root.toAbsolutePath.normalize

  // one client per primitive instance (per TxLog handle), like one
  // store client per writer process. Bounded waits everywhere: a wedged
  // store must surface as a commit error, not hang every writer on the
  // log forever (the publish loop's livelock guard can only trip on
  // thrown exceptions).
  private val client = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val requestTimeout = Duration.ofSeconds(60)

  private def keyOf(target: Path): String = {
    val rel = storeRoot.relativize(target.toAbsolutePath.normalize)
    require(!rel.startsWith(".."),
      s"store key for $target escapes the store root $storeRoot")
    // segments are version-file names (v00000001.txt, _txlog) — encode
    // anyway so the seam never depends on that
    (0 until rel.getNameCount).map(i =>
      java.net.URLEncoder.encode(rel.getName(i).toString, "UTF-8"))
      .mkString("/")
  }

  override def putIfAbsent(target: Path, content: Array[Byte]): Unit = {
    val key = keyOf(target)
    val req = HttpRequest.newBuilder(URI.create(s"$endpoint/$key"))
      .header("If-None-Match", "*").timeout(requestTimeout)
      .PUT(HttpRequest.BodyPublishers.ofByteArray(content))
      .build()
    val resp = try client.send(req, HttpResponse.BodyHandlers.ofString())
    catch {
      case e: InterruptedException => throw e
      // AMBIGUOUS OUTCOME: the request may have landed before the
      // response was lost (reset, timeout). Reporting plain failure
      // here would invite the classic double-apply: the caller retries
      // the transaction and publishes the same actions again under the
      // next version. Resolve by reading the slot back — exactly what a
      // real store client does after a lost conditional-PUT response.
      case e: Exception => resolveAmbiguousPut(key, target, content, e); return
    }
    resp.statusCode() match {
      case 200 | 201 => ()
      case 412 =>
        // 412 usually means a racer won — but it can also be OUR OWN
        // earlier PUT on this key, timed out after landing: the
        // read-back's 404 verdict ("nothing landed; retry is safe") is
        // a snapshot, not a fence, so an in-flight request can still
        // arrive after it. Before classifying as a lost race, GET the
        // slot and compare: our exact bytes = this commit IS durable
        // (success, the same resolution as the 200-content-equal
        // ambiguous path); anything else = a real loser.
        readBack(key) match {
          case Some(b) if java.util.Arrays.equals(b, content) => ()
          case _ => throw new java.nio.file.FileAlreadyExistsException(
            target.toString)
        }
      case c => throw new IOException(
        s"conditional PUT $endpoint/$key: unexpected HTTP $c ${resp.body()}")
    }
  }

  /** GET the slot's committed bytes; None on 404. Throws on transport
    * failure or unexpected status — callers that need a verdict must
    * not mistake "could not read" for "empty".
    */
  private def readBack(key: String): Option[Array[Byte]] = {
    val get = HttpRequest.newBuilder(URI.create(s"$endpoint/$key"))
      .timeout(requestTimeout).GET().build()
    val resp = client.send(get, HttpResponse.BodyHandlers.ofByteArray())
    resp.statusCode() match {
      case 200 => Some(resp.body())
      case 404 => None
      case c => throw new IOException(s"GET $endpoint/$key: unexpected HTTP $c")
    }
  }

  // ---- read side: the same wire the commits ride --------------------------

  override def readAll(target: Path): Option[Array[Byte]] =
    try readBack(keyOf(target))
    catch {
      case e: InterruptedException => throw e
      case _: Exception => None // unreadable = treat as missing (callers
      // are defensive against vacuumed/raced slots; a wedged store
      // surfaces at the next commit, which does NOT swallow errors)
    }

  override def listNames(dir: Path): Seq[String] = {
    val req = HttpRequest.newBuilder(URI.create(s"$endpoint/${keyOf(dir)}?list"))
      .timeout(requestTimeout).GET().build()
    val resp = try client.send(req, HttpResponse.BodyHandlers.ofString())
    catch {
      case e: InterruptedException => throw e
      case _: Exception => return Nil
    }
    resp.statusCode() match {
      case 200 => resp.body().split("\n").toSeq.filter(_.nonEmpty)
      case 404 => Nil
      case c => throw new IOException(
        s"LIST $endpoint/${keyOf(dir)}: unexpected HTTP $c")
    }
  }

  override def sizeOf(target: Path): Option[Long] = {
    val req = HttpRequest.newBuilder(URI.create(s"$endpoint/${keyOf(target)}"))
      .timeout(requestTimeout)
      .method("HEAD", HttpRequest.BodyPublishers.noBody()).build()
    val resp = try client.send(req, HttpResponse.BodyHandlers.discarding())
    catch {
      case e: InterruptedException => throw e
      case _: Exception => return None
    }
    resp.statusCode() match {
      case 200 => Option(resp.headers()
        .firstValue("X-Object-Length").orElse(null)).map(_.toLong)
      case 404 => None
      case c => throw new IOException(
        s"HEAD $endpoint/${keyOf(target)}: unexpected HTTP $c")
    }
  }

  /** Post-failure slot read-back: our content at the key = the PUT won
    * and only the response was lost (success); different content = a
    * racer won (the ordinary lost-race signal); no content = the PUT
    * never landed (plain failure, safe to retry). Only a failed
    * read-back leaves the outcome genuinely unknown — surfaced loudly
    * so the caller reconciles before retrying.
    */
  private def resolveAmbiguousPut(key: String, target: Path,
      content: Array[Byte], cause: Exception): Unit = {
    val got = try readBack(key)
    catch {
      case e: InterruptedException => throw e
      case e: Exception =>
        e.addSuppressed(cause)
        throw new IOException(
          s"conditional PUT to $endpoint/$key failed AND the read-back " +
            "failed: commit outcome UNKNOWN — reconcile the slot before " +
            "retrying the transaction", e)
    }
    got match {
      case Some(b) if java.util.Arrays.equals(b, content) => ()
      case Some(_) =>
        throw new java.nio.file.FileAlreadyExistsException(target.toString)
      case None => throw new IOException(
        s"conditional PUT to $endpoint/$key failed (slot empty at " +
          "read-back time; a retry that loses to our own late-landing " +
          "request resolves via the 412 content compare)", cause)
    }
  }
}

/** Loopback conditional-put store over a directory: `PUT /<key>` with
  * `If-None-Match: *` lands the body at `root/<key>` iff the key is
  * free (HTTP 412 otherwise — the loser signal), arbitrated
  * server-side like a real store's CAS. Winners become visible as
  * complete files via an atomic rename, so filesystem readers (the
  * log's list/read path) never observe partial content. `GET /<key>`
  * returns the committed bytes (the ambiguous-PUT read-back path).
  * PUTs without the precondition are rejected (400): the commit
  * protocol has no unconditional-overwrite path, and the server
  * enforcing that catches a client that silently dropped the header.
  */
final class HttpCasServer(root: Path) extends AutoCloseable {

  private val storeRoot = root.toAbsolutePath.normalize

  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)

  server.createContext("/", (ex: HttpExchange) => {
    try handle(ex)
    catch {
      case e: Exception =>
        val msg = s"server error: ${e.getMessage}".getBytes("UTF-8")
        ex.sendResponseHeaders(500, msg.length)
        ex.getResponseBody.write(msg)
    } finally ex.close()
  })
  server.start()

  def endpoint: String =
    s"http://${server.getAddress.getHostString}:${server.getAddress.getPort}"

  private def handle(ex: HttpExchange): Unit = {
    val rel = ex.getRequestURI.getPath.stripPrefix("/").split("/")
      .map(s => java.net.URLDecoder.decode(s, "UTF-8"))
    val target = rel.foldLeft(storeRoot)(_.resolve(_)).normalize
    if (!target.startsWith(storeRoot)) {
      respond(ex, 400, "key escapes the store root"); return
    }
    ex.getRequestMethod match {
      case "PUT" => handlePut(ex, target)
      case "GET" if ex.getRequestURI.getQuery == "list" =>
        // prefix listing (the stores' LIST-objects shape): child names
        // under the key, newline-separated; 404 for a missing prefix
        if (Files.isDirectory(target)) {
          val s = Files.list(target)
          val names = try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.map(_.getFileName.toString).toVector.sorted
          } finally s.close()
          respond(ex, 200, names.mkString("\n"))
        } else respond(ex, 404, "no such prefix")
      case "GET" =>
        // winners land via atomic rename, so a read observes full
        // committed content or nothing — no lock needed
        if (Files.exists(target)) {
          val b = Files.readAllBytes(target)
          ex.sendResponseHeaders(200, if (b.length == 0) -1 else b.length)
          if (b.length > 0) ex.getResponseBody.write(b)
        } else respond(ex, 404, "no such key")
      case "HEAD" =>
        // size probe; the JDK server owns Content-Length for HEAD, so
        // the byte count rides a custom header (a real store answers
        // with Content-Length itself)
        if (Files.exists(target)) {
          ex.getResponseHeaders.set("X-Object-Length",
            Files.size(target).toString)
          ex.sendResponseHeaders(200, -1)
        } else ex.sendResponseHeaders(404, -1)
      case _ => respond(ex, 405, "PUT, GET, or HEAD only")
    }
  }

  private def handlePut(ex: HttpExchange, target: Path): Unit = {
    val ifNoneMatch = ex.getRequestHeaders.getFirst("If-None-Match")
    if (ifNoneMatch != "*") {
      respond(ex, 400, "commit PUTs must carry If-None-Match: *"); return
    }
    val body = ex.getRequestBody.readAllBytes()
    // the store-side linearization point: one winner per key, losers
    // see 412 — the body lands as a whole file (tmp + atomic rename),
    // never partially
    val won = this.synchronized {
      if (Files.exists(target)) false
      else {
        Files.createDirectories(target.getParent)
        val tmp = Files.createTempFile(target.getParent, ".put", ".tmp")
        Files.write(tmp, body)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        true
      }
    }
    if (won) respond(ex, 200, "created") else respond(ex, 412, "exists")
  }

  private def respond(ex: HttpExchange, code: Int, msg: String): Unit = {
    val b = msg.getBytes("UTF-8")
    ex.sendResponseHeaders(code, b.length)
    ex.getResponseBody.write(b)
  }

  override def close(): Unit = server.stop(0)
}

/** Wide-area round-trip injector: every conditional put pays `rttMs`
  * before reaching the store — losers included, exactly like a remote
  * CAS whose rejection still costs the round trip. Reads pass straight
  * through to `inner`.
  */
final class LatencyCommitPrimitive(inner: CommitPrimitive, rttMs: Long)
    extends CommitPrimitive {
  override def putIfAbsent(target: Path, content: Array[Byte]): Unit = {
    if (rttMs > 0) Thread.sleep(rttMs)
    inner.putIfAbsent(target, content)
  }
  override def readAll(target: Path): Option[Array[Byte]] =
    inner.readAll(target)
  override def listNames(dir: Path): Seq[String] = inner.listNames(dir)
  override def sizeOf(target: Path): Option[Long] = inner.sizeOf(target)
}
