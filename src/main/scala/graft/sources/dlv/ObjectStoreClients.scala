package graft.sources.dlv

/** Reflection-loaded [[ConditionalPutClient]] wrappers over the real
  * bucket SDKs — the last mile of the multi-writer-safety contract
  * (SURVEY §6). The store's own precondition (S3 `If-None-Match: *`,
  * GCS `ifGenerationMatch=0`) is the whole arbitration; these
  * adapters only translate the SDK's failure taxonomy into the
  * [[ConditionalPutClient]] contract:
  *
  *   - HTTP 412 (precondition failed) → `false` — definitive loss.
  *   - Outcome-UNKNOWN failures (request timeout, connection reset
  *     after send, 5xx, throttles) → [[AmbiguousPutException]] — the
  *     arbiter ([[ConditionalPut.resolvedPut]]) reads the key back
  *     instead of guessing.
  *   - Definitive request-never-ran failures (DNS, 400, 403, missing
  *     bucket) → propagate unresolved.
  *
  * Loaded REFLECTIVELY because the SDKs are optional deploy-time
  * dependencies: this module compiles and the whole engine runs
  * without them; a deployment that puts `software.amazon.awssdk`
  * (v2) or `com.google.cloud:google-cloud-storage` on the classpath
  * gets true cross-process commit arbitration on `s3`/`s3a`/`gs`
  * paths automatically ([[ensureAutoRegistered]] — opt out with
  * `-Dgraft.dlv.autoObjectStoreClients=false`). Run
  * [[ConditionalPutConformance.verify]] against a scratch prefix of
  * the REAL bucket before trusting a deployment's credentials/config.
  *
  * Reference anchor: the reference's deployment substrate is a live
  * GCS bucket operated through the google-cloud-storage client
  * (validation_suite.py:41-103, 883-930).
  */
object ObjectStoreClients {

  // ── pure, SDK-free pieces (unit-testable in this container) ──────

  /** (bucket, object key) out of a full commit-key URI
    * (`s3://bucket/table/_dlv_log/0…42.json`). */
  def splitUri(key: String): (String, String) = {
    val u = new java.net.URI(key)
    val bucket = u.getAuthority
    require(bucket != null && bucket.nonEmpty,
      s"object-store key carries no bucket: $key")
    (bucket, u.getPath.stripPrefix("/"))
  }

  sealed trait PutFailure
  /** The store's 412 — some object owns the key. Definitive. */
  case object PreconditionFailed extends PutFailure
  /** The PUT may or may not have landed — surface as
    * [[AmbiguousPutException]], never as false. */
  case object Ambiguous extends PutFailure
  /** The request definitively never ran — rethrow as-is. */
  case object Propagate extends PutFailure

  /** HTTP status → failure class, shared by both wrappers. 408/429
    * are classified AMBIGUOUS although a throttle usually means
    * not-processed: ambiguity is the SAFE direction (the arbiter
    * re-reads and retries), while a wrong `false` would let a writer
    * treat its own landed commit as a foreign conflict. */
  def classifyStatus(status: Int): PutFailure =
    if (status == 412) PreconditionFailed
    else if (status >= 500 || status == 408 || status == 429) Ambiguous
    else Propagate

  /** Does `t`'s class hierarchy (or any cause) carry `className`? —
    * how the adapters recognize SDK exception types without linking
    * against them. */
  @annotation.tailrec
  def causeChainHas(t: Throwable, className: String): Boolean =
    if (t == null) false
    else if (hierarchyHas(t.getClass, className)) true
    else causeChainHas(t.getCause, className)

  private def hierarchyHas(c: Class[_], name: String): Boolean = {
    var k: Class[_] = c
    while (k != null) {
      if (k.getName == name) return true
      k = k.getSuperclass
    }
    false
  }

  /** A transport-level failure (socket/timeout/IO anywhere in the
    * cause chain) is outcome-unknown by definition. */
  def isTransportFailure(t: Throwable): Boolean = {
    var cur = t
    while (cur != null) {
      if (cur.isInstanceOf[java.io.IOException] ||
        cur.isInstanceOf[java.util.concurrent.TimeoutException])
        return true
      cur = cur.getCause
    }
    false
  }

  // ── reflection plumbing ─────────────────────────────────────────

  private def unwrap(t: Throwable): Throwable = t match {
    case e: java.lang.reflect.InvocationTargetException
        if e.getCause != null => unwrap(e.getCause)
    case other => other
  }

  private[dlv] final class Refl(loader: ClassLoader) {
    def cls(name: String): Class[_] = Class.forName(name, true, loader)
    /** Invoke by method NAME + ASSIGNABLE parameter types, resolved
      * against the target's PUBLIC supertypes. Two real-SDK pitfalls
      * drive both rules: `S3Client.putObject` / `Storage.create` are
      * overload-ambiguous at equal arity (a `(PutObjectRequest,
      * Path)` or `Consumer` overload could win a name+arity lookup —
      * JVM method order is unspecified), and the SDK impl classes
      * (`DefaultS3Client`, option `BuilderImpl`s) are NON-public, so
      * a Method reflected off the runtime class throws
      * IllegalAccessException — the lookup must land on the public
      * interface/superclass declaration. */
    def call(target: AnyRef, name: String, args: AnyRef*): AnyRef =
      callOn(target.getClass, target, name, args: _*)
    def callStatic(className: String, name: String, args: AnyRef*): AnyRef =
      callOn(cls(className), null, name, args: _*)
    private def publicTypes(c: Class[_]): Seq[Class[_]] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[Class[_]]
      def walk(k: Class[_]): Unit = if (k != null && !out.contains(k)) {
        if (java.lang.reflect.Modifier.isPublic(k.getModifiers)) out += k
        k.getInterfaces.foreach(walk)
        walk(k.getSuperclass)
      }
      walk(c)
      out.toSeq
    }
    private def accepts(m: java.lang.reflect.Method,
        args: Seq[AnyRef]): Boolean =
      m.getParameterCount == args.length &&
        m.getParameterTypes.iterator.zip(args.iterator).forall {
          case (p, null) => !p.isPrimitive
          case (p, a) =>
            val boxed =
              if (!p.isPrimitive) p
              else p.getName match {
                case "int" => classOf[java.lang.Integer]
                case "long" => classOf[java.lang.Long]
                case "boolean" => classOf[java.lang.Boolean]
                case "double" => classOf[java.lang.Double]
                case "float" => classOf[java.lang.Float]
                case "short" => classOf[java.lang.Short]
                case "byte" => classOf[java.lang.Byte]
                case _ => classOf[java.lang.Character]
              }
            boxed.isAssignableFrom(a.getClass)
        }
    private def callOn(c: Class[_], target: AnyRef, name: String,
        args: AnyRef*): AnyRef = {
      val m = publicTypes(c).iterator
        .flatMap(_.getMethods.iterator)
        .find(m => m.getName == name && accepts(m, args))
        .getOrElse(throw new NoSuchMethodException(
          s"${c.getName}.$name(${args.map(a =>
            Option(a).map(_.getClass.getName).getOrElse("null"))
            .mkString(", ")})"))
      try m.invoke(target, args: _*)
      catch { case t: Throwable => throw unwrap(t) }
    }
  }

  // ── S3 (AWS SDK v2) ─────────────────────────────────────────────

  private val S3_SERVICE_EX =
    "software.amazon.awssdk.awscore.exception.AwsServiceException"
  private val S3_CLIENT_EX =
    "software.amazon.awssdk.core.exception.SdkClientException"
  private val S3_NO_KEY =
    "software.amazon.awssdk.services.s3.model.NoSuchKeyException"

  /** `If-None-Match: *` PUTs through `S3Client`. One instance per
    * registration; the SDK client is thread-safe. */
  final class S3ConditionalPutClient(loader: ClassLoader)
      extends ConditionalPutClient {
    def this() = this(Thread.currentThread().getContextClassLoader)
    @transient private lazy val r = new Refl(loader)
    @transient private lazy val s3: AnyRef =
      r.callStatic("software.amazon.awssdk.services.s3.S3Client", "create")

    private def statusOf(t: Throwable): Option[Int] = {
      var cur = t
      while (cur != null) {
        if (hierarchyHas(cur.getClass, S3_SERVICE_EX))
          return Some(new Refl(loader).call(cur, "statusCode")
            .asInstanceOf[java.lang.Integer].intValue())
        cur = cur.getCause
      }
      None
    }

    override def putIfNoneMatch(key: String, content: Array[Byte]): Boolean = {
      val (bucket, objKey) = splitUri(key)
      val req = {
        val b = r.callStatic(
          "software.amazon.awssdk.services.s3.model.PutObjectRequest",
          "builder")
        r.call(r.call(r.call(b, "bucket", bucket), "key", objKey),
          "ifNoneMatch", "*")
      }
      val body = r.callStatic(
        "software.amazon.awssdk.core.sync.RequestBody",
        "fromBytes", content)
      try {
        r.call(s3, "putObject", r.call(req, "build"), body)
        true
      } catch {
        case t: Throwable =>
          statusOf(t).map(classifyStatus) match {
            case Some(PreconditionFailed) => false
            case Some(Ambiguous) => throw new AmbiguousPutException(
              s"S3 PUT outcome unknown for $key", t)
            case Some(Propagate) => throw t
            case None =>
              if (causeChainHas(t, S3_CLIENT_EX) || isTransportFailure(t))
                throw new AmbiguousPutException(
                  s"S3 PUT outcome unknown for $key", t)
              else throw t
          }
      }
    }

    override def get(key: String): Option[Array[Byte]] = {
      val (bucket, objKey) = splitUri(key)
      val req = {
        val b = r.callStatic(
          "software.amazon.awssdk.services.s3.model.GetObjectRequest",
          "builder")
        r.call(r.call(r.call(b, "bucket", bucket), "key", objKey), "build")
      }
      try Some(r.call(r.call(s3, "getObjectAsBytes", req), "asByteArray")
        .asInstanceOf[Array[Byte]])
      catch {
        case t: Throwable if causeChainHas(t, S3_NO_KEY) => None
      }
    }
  }

  // ── GCS (google-cloud-storage) ──────────────────────────────────

  private val GCS_EX = "com.google.cloud.storage.StorageException"

  /** `ifGenerationMatch=0` creates through the GCS `Storage` client
    * (`BlobTargetOption.doesNotExist()`). */
  final class GcsConditionalPutClient(loader: ClassLoader)
      extends ConditionalPutClient {
    def this() = this(Thread.currentThread().getContextClassLoader)
    @transient private lazy val r = new Refl(loader)
    @transient private lazy val storage: AnyRef = r.call(
      r.callStatic("com.google.cloud.storage.StorageOptions",
        "getDefaultInstance"), "getService")

    private def codeOf(t: Throwable): Option[Int] = {
      var cur = t
      while (cur != null) {
        if (hierarchyHas(cur.getClass, GCS_EX))
          return Some(new Refl(loader).call(cur, "getCode")
            .asInstanceOf[java.lang.Integer].intValue())
        cur = cur.getCause
      }
      None
    }

    private def blobId(key: String): AnyRef = {
      val (bucket, objKey) = splitUri(key)
      r.callStatic("com.google.cloud.storage.BlobId", "of",
        bucket, objKey)
    }

    override def putIfNoneMatch(key: String, content: Array[Byte]): Boolean = {
      val info = r.call(r.callStatic("com.google.cloud.storage.BlobInfo",
        "newBuilder", blobId(key)), "build")
      val optCls = r.cls("com.google.cloud.storage.Storage$BlobTargetOption")
      val noExist = r.callStatic(optCls.getName, "doesNotExist")
      val opts = java.lang.reflect.Array.newInstance(optCls, 1)
      java.lang.reflect.Array.set(opts, 0, noExist)
      try {
        r.call(storage, "create", info, content, opts.asInstanceOf[AnyRef])
        true
      } catch {
        case t: Throwable =>
          codeOf(t).map(classifyStatus) match {
            case Some(PreconditionFailed) => false
            case Some(Ambiguous) => throw new AmbiguousPutException(
              s"GCS PUT outcome unknown for $key", t)
            case Some(Propagate) => throw t
            case None =>
              if (isTransportFailure(t)) throw new AmbiguousPutException(
                s"GCS PUT outcome unknown for $key", t)
              else throw t
          }
      }
    }

    override def get(key: String): Option[Array[Byte]] = {
      val srcCls = r.cls("com.google.cloud.storage.Storage$BlobSourceOption")
      val opts = java.lang.reflect.Array.newInstance(srcCls, 0)
      try Some(r.call(storage, "readAllBytes", blobId(key),
        opts.asInstanceOf[AnyRef]).asInstanceOf[Array[Byte]])
      catch {
        case t: Throwable if codeOf(t).contains(404) => None
      }
    }
  }

  // ── auto-registration ───────────────────────────────────────────

  val AUTO_PROP = "graft.dlv.autoObjectStoreClients"

  /** Schemes this JVM has SETTLED — either registered here or found
    * already registered. A scheme is latched only on success: a call
    * made under a classloader that lacks the SDKs (or while the
    * opt-out property is transiently set) must NOT stop a later call
    * with the SDKs visible from registering, or commits silently fall
    * back to weaker arbitration. */
  private val settled =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Classloaders for which NOTHING FURTHER can register — every
    * scheme whose SDK is visible through the loader is already
    * settled (the no-SDK case is the empty set). Skipped lock-free on
    * the hot path: this runs on every conditional-PUT publish, and a
    * given loader's view of the probe names does not change. A
    * DIFFERENT loader still probes fresh, which is the round-17
    * latch-on-success fix; weak keys let throwaway loaders unload. */
  private val exhaustedLoaders =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[ClassLoader, java.lang.Boolean]())

  /** Register the wrappers for every scheme whose SDK is on the
    * classpath — latching PER SCHEME on success, cheap after each
    * scheme settles, silent no-op when neither SDK is present (this
    * container). Returns the schemes registered BY THIS CALL. A
    * scheme already registered (e.g. a deployment's own wrapper) is
    * never displaced. */
  def ensureAutoRegistered(
      loader: ClassLoader =
        Thread.currentThread().getContextClassLoader): Seq[String] = {
    // lock-free fast path for the per-commit call
    if (exhaustedLoaders.containsKey(loader)) return Nil
    synchronized {
      if (sys.props.get(AUTO_PROP).exists(_.equalsIgnoreCase("false")))
        return Nil
      // every Throwable reads as "absent", on purpose: a half-present
      // SDK (the probe class there, a dependency missing) throws a
      // LinkageError, and that SDK is as unusable as a missing one
      def available(probe: String): Boolean =
        try { Class.forName(probe, false, loader); true }
        catch { case _: Throwable => false }
      // settle without registering when someone else already holds
      // the scheme; leave UNSETTLED when only the SDK is missing
      def claim(sch: String, mk: () => ConditionalPutClient)
          : Boolean = {
        if (settled.contains(sch)) false
        else if (ConditionalPut.clientFor(sch).nonEmpty) {
          settled.add(sch); false
        } else {
          ConditionalPut.register(sch, mk()); settled.add(sch); true
        }
      }
      val s3Avail = available("software.amazon.awssdk.services.s3.S3Client")
      val gsAvail = available("com.google.cloud.storage.StorageOptions")
      val s3 =
        if (!s3Avail) Nil
        else {
          lazy val c = new S3ConditionalPutClient(loader)
          Seq("s3", "s3a").filter(claim(_, () => c))
        }
      val gs =
        if (!gsAvail) Nil
        else if (claim("gs", () => new GcsConditionalPutClient(loader)))
          Seq("gs")
        else Nil
      // latch the LOADER once nothing further can register through it
      // — every visible scheme settled (no-SDK = the empty set, the
      // common deployment's per-commit call; an s3-only classpath
      // latches here too instead of re-probing gs on every commit).
      // The opt-out property path above never latches.
      val visible = (if (s3Avail) Seq("s3", "s3a") else Nil) ++
        (if (gsAvail) Seq("gs") else Nil)
      if (visible.forall(settled.contains))
        exhaustedLoaders.put(loader, java.lang.Boolean.TRUE)
      s3 ++ gs
    }
  }

  /** Test seam: forget the per-scheme and per-loader latches (does
    * NOT unregister). */
  private[dlv] def resetAutoRegistration(): Unit = {
    settled.clear()
    exhaustedLoaders.clear()
  }

  /** Test seam: the schemes currently latched as settled. */
  private[dlv] def settledSchemes: Set[String] = {
    import scala.jdk.CollectionConverters._
    settled.asScala.toSet
  }
}
