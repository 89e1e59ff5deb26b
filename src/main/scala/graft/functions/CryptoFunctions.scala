package graft.functions

import java.security.{KeyFactory, KeyPair, KeyPairGenerator, PrivateKey, PublicKey, SecureRandom, Signature}
import java.security.spec.{ECGenParameterSpec, PKCS8EncodedKeySpec, X509EncodedKeySpec}
import javax.crypto.{Cipher, KeyGenerator, SecretKey}
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Crypto scalar library (SURVEY.md §2.9 U1-U4, U7): JDK-crypto
  * re-implementations of the reference's per-row functions —
  *   - Ed25519 sign/verify (reference: demo_did_graph/common/sign_verify.py:15-31)
  *   - ECDSA P-256 sign/verify (reference: demo_offline/01_offline_did/
  *     packaging_with_did.py:58-64, self_contained_vc_verifier.py:26-39)
  *   - SHA-256 doc hashing (reference: demo_offline/02_offline_did_and_hash/
  *     packaging_with_did_and_hash.py:8-10)
  *   - hybrid RSA-OAEP + AES-GCM encrypt/decrypt/sign (reference:
  *     demo_sqlite_cdc/01_unit_test/01_hybrid_crypto.py:27-97)
  *
  * Keys travel as DER-encoded byte arrays (PKCS#8 private / X.509 public)
  * in BinaryType columns or broadcast literals, so executors never touch a
  * key store. All functions are stateless per-row UDFs — no shuffle; at
  * cluster scale the signature checks pipeline inside the scan stage.
  * (Signature/Cipher instances are cheap per-call; JIT + provider caching
  * keeps this within ~µs/row, which the bench confirms.)
  */
object CryptoFunctions {

  /** Deterministic keypair for fixtures: SHA1PRNG seeded → reproducible
    * (the reference pins `random_seed` 42 the same way:
    * demo_did_graph/common/load_config.py:67).
    */
  def seededKeyPair(algo: String, seed: Long): KeyPair = {
    val rnd = SecureRandom.getInstance("SHA1PRNG")
    rnd.setSeed(seed)
    val kpg = algo match {
      case "EC" =>
        val g = KeyPairGenerator.getInstance("EC")
        g.initialize(new ECGenParameterSpec("secp256r1"), rnd)
        g
      case other =>
        val g = KeyPairGenerator.getInstance(other)
        other match {
          case "RSA" => g.initialize(2048, rnd)
          case _ => g.initialize(255, rnd) // Ed25519
        }
        g
    }
    kpg.generateKeyPair()
  }

  def privateKeyFromDer(algo: String, der: Array[Byte]): PrivateKey =
    KeyFactory.getInstance(algo).generatePrivate(new PKCS8EncodedKeySpec(der))

  def publicKeyFromDer(algo: String, der: Array[Byte]): PublicKey =
    KeyFactory.getInstance(algo).generatePublic(new X509EncodedKeySpec(der))

  // DER→key parsing is ~10x the cost of an Ed25519 signature itself, and
  // sign/verify UDFs receive the same key bytes on every row — memoize per
  // executor. Keys are a handful of entries; the map never grows beyond the
  // distinct keys used in a session.
  private val privCache = new java.util.concurrent.ConcurrentHashMap[String, PrivateKey]()
  private val pubCache = new java.util.concurrent.ConcurrentHashMap[String, PublicKey]()
  private def ck(algo: String, der: Array[Byte]): String =
    algo + ":" + java.util.Base64.getEncoder.encodeToString(der)

  def privateKeyCached(algo: String, der: Array[Byte]): PrivateKey =
    privCache.computeIfAbsent(ck(algo, der), _ => privateKeyFromDer(algo, der))

  def publicKeyCached(algo: String, der: Array[Byte]): PublicKey =
    pubCache.computeIfAbsent(ck(algo, der), _ => publicKeyFromDer(algo, der))

  private def sigAlgoFor(keyAlgo: String): String = keyAlgo match {
    case "Ed25519" => "Ed25519"
    case "EC" => "SHA256withECDSA"
    case "RSA" => "SHA256withRSA"
    case other => other
  }

  // Ed25519 fast path: SunEC's pure-Java Ed25519 measures ~715 µs/sign and
  // ~705 µs/verify on JDK 17 (PLANS.md "Ed25519 via Tink"), which makes
  // it >90% of the U1/U2 row cost. Tink (shipped in Spark's own jar dir)
  // runs the same RFC 8032 math at ~170/215 µs — and Ed25519 is
  // deterministic, so the signatures are BIT-IDENTICAL (asserted in
  // CryptoSpec); the swap is invisible to every oracle. Keys still travel as DER; the JDK17
  // encodings are fixed-shape (PKCS#8 = 16-byte header + 32-byte seed,
  // X.509 = 12-byte header + 32-byte key), and anything else falls back to
  // the JDK provider.
  private val edSignCache =
    new java.util.concurrent.ConcurrentHashMap[String, com.google.crypto.tink.subtle.Ed25519Sign]()
  private val edVerifyCache =
    new java.util.concurrent.ConcurrentHashMap[String, com.google.crypto.tink.subtle.Ed25519Verify]()
  // Fixed JDK17 DER templates; only the trailing key bytes vary. Checking
  // the header (not just the length) keeps malformed input on the JDK
  // path, which rejects it, instead of signing under a garbage seed.
  private val Pkcs8Ed25519Header: Array[Byte] = Array(
    0x30, 0x2e, 0x02, 0x01, 0x00, 0x30, 0x05, 0x06, 0x03, 0x2b, 0x65, 0x70,
    0x04, 0x22, 0x04, 0x20).map(_.toByte)
  private val X509Ed25519Header: Array[Byte] = Array(
    0x30, 0x2a, 0x30, 0x05, 0x06, 0x03, 0x2b, 0x65, 0x70, 0x03, 0x21,
    0x00).map(_.toByte)
  private def hasHeader(der: Array[Byte], header: Array[Byte], total: Int) =
    der.length == total &&
      java.util.Arrays.equals(der, 0, header.length, header, 0, header.length)

  def sign(keyAlgo: String, privDer: Array[Byte], data: Array[Byte]): Array[Byte] = {
    if (keyAlgo == "Ed25519" && hasHeader(privDer, Pkcs8Ed25519Header, 48))
      return edSignCache.computeIfAbsent(ck(keyAlgo, privDer),
        _ => new com.google.crypto.tink.subtle.Ed25519Sign(privDer.slice(16, 48)))
        .sign(data)
    val s = Signature.getInstance(sigAlgoFor(keyAlgo))
    s.initSign(privateKeyCached(keyAlgo, privDer))
    s.update(data)
    s.sign()
  }

  def verify(keyAlgo: String, pubDer: Array[Byte], data: Array[Byte],
      sig: Array[Byte]): Boolean = {
    if (keyAlgo == "Ed25519" && hasHeader(pubDer, X509Ed25519Header, 44) &&
        sig.length == 64) {
      val v = edVerifyCache.computeIfAbsent(ck(keyAlgo, pubDer),
        _ => new com.google.crypto.tink.subtle.Ed25519Verify(pubDer.slice(12, 44)))
      return try { v.verify(sig, data); true }
      catch { case _: java.security.GeneralSecurityException => false }
    }
    val v = Signature.getInstance(sigAlgoFor(keyAlgo))
    v.initVerify(publicKeyCached(keyAlgo, pubDer))
    v.update(data)
    v.verify(sig)
  }

  // ---- Hybrid encryption (U7): AES-256-GCM payload, RSA-OAEP key wrap,
  // ---- RSA signature over the ciphertext.

  final case class HybridBlob(encKey: Array[Byte], nonce: Array[Byte],
      ciphertext: Array[Byte], signature: Array[Byte])

  // One RNG per task thread for nonce/key generation: a per-call
  // `new SecureRandom()` in default-argument position would run once per
  // ROW inside UDF closures (Wallet.seal) — constructor + reseed cost for
  // no security gain — while a single process-wide instance serializes all
  // executor threads on nextBytes()'s internal lock. ThreadLocal gives the
  // per-row savings without cross-thread contention. Callers that need
  // determinism still pass their own instance.
  private val threadRnd: ThreadLocal[SecureRandom] =
    ThreadLocal.withInitial(() => new SecureRandom())
  private def sharedRnd: SecureRandom = threadRnd.get()

  def hybridEncrypt(rsaPubDer: Array[Byte], rsaSignPrivDer: Array[Byte],
      plaintext: Array[Byte], rnd: SecureRandom = sharedRnd): HybridBlob = {
    val kg = KeyGenerator.getInstance("AES")
    kg.init(256, rnd)
    val aes = kg.generateKey()
    val nonce = new Array[Byte](12)
    rnd.nextBytes(nonce)
    val c = Cipher.getInstance("AES/GCM/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, aes, new GCMParameterSpec(128, nonce))
    val ct = c.doFinal(plaintext)
    val wrap = Cipher.getInstance("RSA/ECB/OAEPWithSHA-256AndMGF1Padding")
    wrap.init(Cipher.ENCRYPT_MODE, publicKeyCached("RSA", rsaPubDer))
    val ek = wrap.doFinal(aes.getEncoded)
    HybridBlob(ek, nonce, ct, sign("RSA", rsaSignPrivDer, ct))
  }

  def hybridDecrypt(rsaPrivDer: Array[Byte], rsaSignPubDer: Array[Byte],
      blob: HybridBlob): Option[Array[Byte]] = {
    if (!verify("RSA", rsaSignPubDer, blob.ciphertext, blob.signature)) return None
    val unwrap = Cipher.getInstance("RSA/ECB/OAEPWithSHA-256AndMGF1Padding")
    unwrap.init(Cipher.DECRYPT_MODE, privateKeyCached("RSA", rsaPrivDer))
    val aes = new SecretKeySpec(unwrap.doFinal(blob.encKey), "AES")
    val c = Cipher.getInstance("AES/GCM/NoPadding")
    c.init(Cipher.DECRYPT_MODE, aes, new GCMParameterSpec(128, blob.nonce))
    Some(c.doFinal(blob.ciphertext))
  }

  // ---- Passphrase-keyed AES-GCM (the encrypted-wallet-at-rest model:
  // ---- SQLCipher `PRAGMA key = '...'`, reference demo_offline/05_sqlite/
  // ---- 02initdb.py:12-42 — a passphrase-derived key encrypts every row).

  /** PBKDF2-HMAC-SHA256 key derivation (SQLCipher's own KDF family). */
  // PBKDF2 is deliberately slow (64k iterations ≈ 100 ms); deriving the
  // same key on every seal/open call re-pays that per TABLE. Memoize per
  // (passphrase, salt, iterations) — standard KDF-cache practice. The map
  // key is SHA-256(passphrase || salt || iterations), NOT the plaintext
  // passphrase: a static map keyed by plaintext would pin every passphrase
  // in heap for the JVM lifetime (well past the 'during use' window).
  // Derived keys do stay cached — that's the point of the memo — but the
  // cache is bounded (cleared past 64 entries; a session touches a handful
  // of (passphrase, salt) pairs, so eviction is effectively never hit).
  private val kdfCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  def passphraseKey(passphrase: String, salt: Array[Byte],
      iterations: Int = 64000): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val pp = passphrase.getBytes("UTF-8")
    // Length-prefix each variable-length field: a raw concatenation makes
    // ("ab","cd") and ("abc","d") hash identically, serving one pair the
    // other's derived key — fatal with the documented variable-length
    // salt pattern (salt ++ shardId).
    md.update(java.nio.ByteBuffer.allocate(4).putInt(pp.length).array())
    md.update(pp)
    md.update(java.nio.ByteBuffer.allocate(4).putInt(salt.length).array())
    md.update(salt)
    md.update(java.nio.ByteBuffer.allocate(4).putInt(iterations).array())
    val cacheKey = java.util.Base64.getEncoder.encodeToString(md.digest())
    if (kdfCache.size > 64) kdfCache.clear()
    kdfCache.computeIfAbsent(cacheKey, _ => {
      val spec = new javax.crypto.spec.PBEKeySpec(
        passphrase.toCharArray, salt, iterations, 256)
      javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
        .generateSecret(spec).getEncoded
    })
  }

  /** AES-256-GCM with a fresh random nonce; returns (nonce, ciphertext).
    *
    * Key-rotation caveat: with random 96-bit nonces, NIST SP 800-38D bounds
    * GCM at 2^32 messages per key (collision risk beyond that). A 100 TB
    * seal under ONE passphrase key can exceed that — rotate keys for very
    * large seals, e.g. derive a per-shard subkey
    * `passphraseKey(pass, salt ++ shardId)` so each shard stays far under
    * the bound.
    */
  def aesGcmEncrypt(key: Array[Byte], plaintext: Array[Byte],
      rnd: SecureRandom = sharedRnd): (Array[Byte], Array[Byte]) = {
    val nonce = new Array[Byte](12)
    rnd.nextBytes(nonce)
    val c = Cipher.getInstance("AES/GCM/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"),
      new GCMParameterSpec(128, nonce))
    (nonce, c.doFinal(plaintext))
  }

  /** GCM-authenticated decrypt; None on tag failure (wrong key/tamper). */
  def aesGcmDecrypt(key: Array[Byte], nonce: Array[Byte],
      ciphertext: Array[Byte]): Option[Array[Byte]] =
    try {
      val c = Cipher.getInstance("AES/GCM/NoPadding")
      c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"),
        new GCMParameterSpec(128, nonce))
      Some(c.doFinal(ciphertext))
    } catch { case _: Exception => None }

  // ---- Column forms ----

  // Marked nondeterministic on purpose: not for semantics (signatures are
  // deterministic) but as an optimizer barrier. Catalyst pushes
  // deterministic projections/filters below repartition exchanges, which
  // would sink the whole crypto stage back into the (often single-task)
  // scan stage and serialize it; the nondeterministic flag keeps the
  // expensive per-row work on the post-shuffle side where it parallelizes.
  def sign_udf(keyAlgo: String): (Column, Column) => Column = {
    val f = udf((priv: Array[Byte], data: Array[Byte]) => sign(keyAlgo, priv, data))
      .asNondeterministic()
    (priv, data) => f(priv, data)
  }

  def verify_udf(keyAlgo: String): (Column, Column, Column) => Column = {
    val f = udf((pub: Array[Byte], data: Array[Byte], sig: Array[Byte]) =>
      verify(keyAlgo, pub, data, sig)).asNondeterministic()
    (pub, data, sig) => f(pub, data, sig)
  }
}
