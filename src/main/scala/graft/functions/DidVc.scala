package graft.functions

import graft.functions.JsonCanon._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** DID / Verifiable Credential layer (SURVEY.md §2.9 U2, U5, U6).
  *
  * Mirrors the reference's W3C VC document shape and proof flow
  * (reference: demo_did_graph/common/did_utils.py:30-52 builds the VC,
  * :88-100 verifies — strip `proof`, canonical-JSON with sorted keys,
  * hex-decode the signature, Ed25519-verify). Byte-exact canonical JSON is
  * provided by [[JsonCanon]]; signatures by [[CryptoFunctions]].
  */
object DidVc {

  /** U5: DID minting. The reference mints `did:example:<uuid4>`
    * (did_utils.py:12-24); for reproducible pipelines we support the
    * deterministic form keyed by an id.
    */
  def mintDid(id: String): String = s"did:example:$id"

  /** Build the unsigned VC document (key order irrelevant — canonical
    * serialization sorts).
    */
  def buildVcDoc(vcId: String, issuerDid: String, subjectDid: String,
      missionId: String, droneId: String, issuanceDate: String): JObj =
    JObj(Vector(
      "@context" -> JArr(Vector(JStr("https://www.w3.org/2018/credentials/v1"))),
      "id" -> JStr(vcId),
      "type" -> JArr(Vector(JStr("VerifiableCredential"))),
      "issuer" -> JStr(issuerDid),
      "issuanceDate" -> JStr(issuanceDate),
      "credentialSubject" -> JObj(Vector(
        "id" -> JStr(subjectDid),
        "mission_id" -> JStr(missionId),
        "drone_id" -> JStr(droneId)))))

  // String.format-per-byte costs ~100 µs for a 64-byte signature (PLANS.md
  // "Ed25519 via Tink"); a digit table does the same encode in well under
  // a microsecond.
  private val HexDigits = "0123456789abcdef".toCharArray
  private def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      val v = b(i) & 0xff
      out(2 * i) = HexDigits(v >>> 4)
      out(2 * i + 1) = HexDigits(v & 0xf)
      i += 1
    }
    new String(out)
  }

  private def unhex(s: String): Array[Byte] = {
    // Odd length would silently drop the trailing character below —
    // the same malformed-input hazard as a non-hex digit: fail loudly.
    if (s.length % 2 != 0) throw new NumberFormatException(
      s"odd-length hex string (${s.length} chars)")
    val out = new Array[Byte](s.length / 2)
    var i = 0
    while (i < out.length) {
      val hi = Character.digit(s.charAt(2 * i), 16)
      val lo = Character.digit(s.charAt(2 * i + 1), 16)
      // Character.digit returns -1 on non-hex input; mapping that to
      // garbage bytes would silently accept malformed hex if this helper
      // is reused outside verifyVc's fail-closed signature check.
      if (hi < 0 || lo < 0) throw new NumberFormatException(
        s"non-hex character in '${s.substring(2 * i, 2 * i + 2)}'")
      out(i) = ((hi << 4) | lo).toByte
      i += 1
    }
    out
  }

  /** Sign the canonical serialization of the proof-less doc; embed the
    * proof with the hex signature (did_utils.py:30-52).
    */
  def signVc(doc: JObj, privDer: Array[Byte], created: String,
      verificationMethod: String): String = {
    val payload = serialize(doc).getBytes("UTF-8")
    val sig = CryptoFunctions.sign("Ed25519", privDer, payload)
    val proof = JObj(Vector(
      "type" -> JStr("Ed25519Signature2020"),
      "created" -> JStr(created),
      "verificationMethod" -> JStr(verificationMethod),
      "proofPurpose" -> JStr("assertionMethod"),
      "signatureValue" -> JStr(hex(sig))))
    serialize(JObj(doc.v :+ ("proof" -> (proof: JValue))))
  }

  /** Strip `proof`, re-canonicalize, hex-decode, verify
    * (did_utils.py:88-100).
    */
  def verifyVc(vcJson: String, pubDer: Array[Byte]): Boolean =
    try {
      val JObj(fields) = parse(vcJson): @unchecked
      val sigHex = fields.collectFirst {
        case ("proof", JObj(p)) => p.collectFirst {
          case ("signatureValue", JStr(s)) => s
        }
      }.flatten.getOrElse(return false)
      val doc = JObj(fields.filterNot(_._1 == "proof"))
      val sig = unhex(sigHex)
      CryptoFunctions.verify("Ed25519", pubDer,
        serialize(doc).getBytes("UTF-8"), sig)
    } catch { case _: Exception => false }

  // ---- Column forms ----

  // asNondeterministic = optimizer barrier, not semantics: stops Catalyst
  // sinking the expensive signing work below repartition exchanges into a
  // single-task scan stage (see CryptoFunctions.sign_udf).
  def sign_vc_udf(privDer: Array[Byte], verificationMethod: String): Column => Column = {
    val f = udf((docJson: String) => {
      val JObj(fields) = parse(docJson): @unchecked
      signVc(JObj(fields), privDer, "2024-01-01T00:00:00Z", verificationMethod)
    }).asNondeterministic()
    c => f(c)
  }

  def verify_vc_udf(pubDer: Array[Byte]): Column => Column = {
    val f = udf((vcJson: String) => verifyVc(vcJson, pubDer)).asNondeterministic()
    c => f(c)
  }
}
