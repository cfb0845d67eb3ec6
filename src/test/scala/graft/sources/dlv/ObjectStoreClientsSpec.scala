package graft.sources.dlv

import org.scalatest.funsuite.AnyFunSuite
import ObjectStoreClients._

/** The SDK-free halves of the reflection-loaded S3/GCS wrappers: URI
  * splitting, failure classification, cause-chain recognition, and
  * the auto-registration latch. The SDKs themselves are absent in
  * this container — the real-bucket half is covered by running
  * [[ConditionalPutConformance.verify]] against a scratch prefix at
  * deploy time (the kit is raced against the same arbiter here and
  * in CommitStoreSpec). */
class ObjectStoreClientsSpec extends AnyFunSuite with DlvTestProps {

  test("splitUri: bucket + object key out of s3:// and gs:// forms") {
    assert(splitUri("s3://my-bucket/tbl/_dlv_log/00000000000000000042.json")
      == ("my-bucket", "tbl/_dlv_log/00000000000000000042.json"))
    assert(splitUri("gs://b/k") == ("b", "k"))
    assert(splitUri("s3a://b.dots/deep/path/x.json")
      == ("b.dots", "deep/path/x.json"))
    intercept[IllegalArgumentException](splitUri("file:///no/bucket"))
  }

  test("classifyStatus: 412 definitive loss; 5xx/408/429 ambiguous " +
    "(the safe direction); other 4xx propagate") {
    assert(classifyStatus(412) == PreconditionFailed)
    Seq(500, 502, 503, 504, 408, 429).foreach(s =>
      assert(classifyStatus(s) == Ambiguous, s"status $s"))
    Seq(400, 403, 404).foreach(s =>
      assert(classifyStatus(s) == Propagate, s"status $s"))
  }

  test("causeChainHas walks causes AND class hierarchies") {
    class Base extends RuntimeException
    class Derived extends Base
    val nested = new RuntimeException("outer",
      new java.io.UncheckedIOException("mid",
        new java.io.IOException("inner", new Derived)))
    assert(causeChainHas(nested, classOf[Base].getName))
    assert(!causeChainHas(nested, "com.example.Absent"))
    assert(isTransportFailure(nested))
    assert(!isTransportFailure(new RuntimeException("plain")))
  }

  test("ensureAutoRegistered: silent no-op without the SDKs, " +
    "one-shot latch, opt-out honored") {
    resetAutoRegistration()
    assert(ensureAutoRegistered() == Nil) // no SDK in this container
    assert(ConditionalPut.clientFor("s3").isEmpty)
    assert(ConditionalPut.clientFor("gs").isEmpty)
    assert(ensureAutoRegistered() == Nil) // latched — still no-op
    resetAutoRegistration()
    sys.props(AUTO_PROP) = "false"
    try assert(ensureAutoRegistered() == Nil)
    finally { sys.props -= AUTO_PROP; resetAutoRegistration() }
  }

  test("conformance kit green over a URI-keyed fake bucket — the " +
    "exact key shape HadoopIo hands a registered wrapper") {
    // fake store keyed by (bucket, objectKey) through splitUri, i.e.
    // the adapter's own parsing sits on the conformance path
    val inner = new InMemoryObjectStore
    val viaUri = new ConditionalPutClient {
      override def putIfNoneMatch(key: String, c: Array[Byte]) = {
        val (b, k) = splitUri(key); inner.putIfNoneMatch(s"$b|$k", c)
      }
      override def get(key: String) = {
        val (b, k) = splitUri(key); inner.get(s"$b|$k")
      }
    }
    ConditionalPutConformance.verify(
      viaUri, "s3://conformance-bucket/scratch")
  }

  test("reflective dispatch resolves by assignable parameter TYPES " +
    "on the target's PUBLIC supertypes — overload-ambiguous, " +
    "non-public SDK impl classes (the DefaultS3Client shape) work") {
    val r = new ObjectStoreClients.Refl(getClass.getClassLoader)
    val api: AnyRef = ReflDispatchFixture.make() // non-public Impl
    // three put/2 overloads; only the byte[] one matches the args
    val out = r.call(api, "put", "k", Array[Byte](1, 2, 3))
    assert(out == "bytes:k:3",
      s"dispatch must pick the (String, byte[]) overload, got $out")
    intercept[NoSuchMethodException](r.call(api, "put", "k"))
  }

  test("ensureAutoRegistered: no-SDK and opted-out calls do NOT " +
    "latch; a later call with the SDK visible registers; a foreign " +
    "registration is never displaced") {
    // a loader that genuinely HAS the S3 probe class (compiled here —
    // Class.forName verifies the name, so a stub must exist; the
    // constructor-lazy wrappers never touch the rest until first use)
    val stubRoot = java.nio.file.Files
      .createTempDirectory("r17-fake-sdk-")
    val src = stubRoot.resolve(
      "software/amazon/awssdk/services/s3/S3Client.java")
    java.nio.file.Files.createDirectories(src.getParent)
    java.nio.file.Files.writeString(src,
      "package software.amazon.awssdk.services.s3;\n" +
        "public interface S3Client {}\n")
    val javac = javax.tools.ToolProvider.getSystemJavaCompiler
    assert(javac.run(null, null, null,
      "-d", stubRoot.toString, src.toString) == 0)
    val fakeLoader = new java.net.URLClassLoader(
      Array(stubRoot.toUri.toURL), getClass.getClassLoader)
    val prior = Seq("s3", "s3a", "gs")
      .map(s => s -> ConditionalPut.clientFor(s))
    ObjectStoreClients.resetAutoRegistration()
    try {
      Seq("s3", "s3a", "gs").foreach(ConditionalPut.unregister)
      // opted out: returns nothing and latches nothing
      withProps(ObjectStoreClients.AUTO_PROP -> "false") {
        assert(ObjectStoreClients.ensureAutoRegistered() == Nil)
      }
      assert(ObjectStoreClients.settledSchemes.isEmpty,
        "an opted-out call must not latch")
      // SDK-less loader: returns nothing and latches nothing
      assert(ObjectStoreClients.ensureAutoRegistered(
        new java.net.URLClassLoader(Array.empty, null)) == Nil)
      assert(ObjectStoreClients.settledSchemes.isEmpty,
        "a call without the SDKs visible must not latch")
      // a foreign registration settles its scheme without displacement
      val mine = new InMemoryObjectStore
      ConditionalPut.register("s3", mine)
      val got = ObjectStoreClients.ensureAutoRegistered(fakeLoader)
      assert(got == Seq("s3a"),
        s"only the unclaimed scheme may register: $got")
      assert(ConditionalPut.clientFor("s3").contains(mine),
        "a pre-registered wrapper must never be displaced")
      assert(ObjectStoreClients.settledSchemes == Set("s3", "s3a"))
      // settled schemes stay settled: a repeat call registers nothing
      assert(ObjectStoreClients.ensureAutoRegistered(fakeLoader) == Nil)
    } finally {
      ObjectStoreClients.resetAutoRegistration()
      prior.foreach {
        case (s, Some(c)) => ConditionalPut.register(s, c)
        case (s, None) => ConditionalPut.unregister(s)
      }
    }
  }
}
