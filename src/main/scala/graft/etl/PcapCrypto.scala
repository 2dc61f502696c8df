package graft.etl

import java.nio.ByteBuffer
import java.security.MessageDigest

import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Encrypted-at-rest pcap store (reference: capture/writer-simple.c
  * encoding modes, viewer/pcap.js:140-245 seek-decrypt readers,
  * viewer/decryptPcap.js whole-file decrypt).
  *
  * The reference's simple writer can encrypt capture files as it writes
  * them, in two modes recorded per file in the files index:
  *
  *  - `aes-256-ctr` (writer-simple.c:344-357): a random 32-byte DEK and a
  *    random 12-byte IV; iv[12..16) is the big-endian AES block counter,
  *    initially 0, so the byte at file offset p lives in block p/16. CTR
  *    is a pure keystream XOR — random access needs no chaining, just the
  *    counter for the containing block plus a p%16 skip (pcap.js
  *    createDecipher(pos/16) + the pos%16 posoffset). Files cap at 64 GB
  *    so the 32-bit counter never wraps (writer-simple.c:662-668).
  *  - `xor-2048` (writer-simple.c:441): a repeating 256-byte pad —
  *    byte p is XORed with dek[p%256]. Not secure (the reference logs the
  *    same warning), supported for fidelity.
  *
  * The DEK itself is stored hex-encoded in the files index, wrapped with
  * AES-192-CBC under a named KEK from configuration; the KEK string is
  * expanded to key+iv with OpenSSL's one-round MD5 EVP_BytesToKey, which
  * is what both the C writer (writer-simple.c:188-213 EVP_BytesToKey) and
  * the Node reader (decryptPcap.js createDecipher('aes-192-cbc', kek))
  * compute.
  *
  * Scale: CTR random access means hunts and pcap exports over an
  * encrypted store read exactly the (packetPos, packetLen) slices they
  * need — same I/O as the plain store, plus one AES of keystream per
  * 16-byte block touched. Nothing is ever decrypted whole-file on the
  * hot path; [[decryptFile]] exists only as the decryptPcap.js analogue.
  */
object PcapCrypto {

  /** Per-file decryption material, the shape of the files-index fields
    * `encoding` / `dek` / `iv` after KEK-unwrapping. `Normal` = plaintext.
    */
  final case class FileKeys(encoding: String, dek: Array[Byte], iv: Array[Byte]) {
    def encrypted: Boolean = encoding != "normal"
  }

  val Normal: FileKeys = FileKeys("normal", Array.emptyByteArray, Array.emptyByteArray)

  /** OpenSSL EVP_BytesToKey with MD5, no salt, one round — the KDF behind
    * both EVP_BytesToKey(EVP_aes_192_cbc(), EVP_md5(), ...) in the C
    * writer and Node's deprecated createDecipher: D_1 = MD5(pw),
    * D_i = MD5(D_{i-1} || pw), key || iv = D_1 || D_2 || ...
    */
  def evpBytesToKey(password: Array[Byte], keyLen: Int, ivLen: Int): (Array[Byte], Array[Byte]) = {
    val md = MessageDigest.getInstance("MD5")
    val out = new java.io.ByteArrayOutputStream()
    var prev = Array.emptyByteArray
    while (out.size < keyLen + ivLen) {
      md.reset()
      md.update(prev)
      md.update(password)
      prev = md.digest()
      out.write(prev, 0, prev.length)
    }
    val all = out.toByteArray
    (all.slice(0, keyLen), all.slice(keyLen, keyLen + ivLen))
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString
  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Wrap a DEK under a configured KEK string → hex ciphertext for the
    * files index (writer-simple.c:188-213 writer_simple_encrypt_key).
    */
  def wrapDek(dek: Array[Byte], kek: String): String = {
    val (key, iv) = evpBytesToKey(kek.getBytes("UTF-8"), 24, 16)
    val c = Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    hex(c.doFinal(dek))
  }

  /** Unwrap a files-index hex DEK (decryptPcap.js:55-57). */
  def unwrapDek(dekHex: String, kek: String): Array[Byte] = {
    val (key, iv) = evpBytesToKey(kek.getBytes("UTF-8"), 24, 16)
    val c = Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    c.doFinal(unhex(dekHex))
  }

  /** AES-CTR keystream-XOR of `buf` as the bytes at absolute file offset
    * `pos`: counter = iv[12..16) treated as a big-endian uint32 holding
    * the block index pos/16 (pcap.js:140-143), plus a pos%16 intra-block
    * skip. In-place, returns `buf`.
    */
  private def ctrAt(buf: Array[Byte], pos: Long, k: FileKeys): Array[Byte] = {
    val iv = k.iv.clone()
    ByteBuffer.wrap(iv).putInt(12, (pos >>> 4).toInt)
    val c = Cipher.getInstance("AES/CTR/NoPadding")
    c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(k.dek, "AES"), new IvParameterSpec(iv))
    val skip = (pos & 15).toInt
    if (skip > 0) c.update(new Array[Byte](skip)) // burn the intra-block prefix
    c.doFinal(buf)
  }

  /** XOR `buf` with the repeating 256-byte pad phased to absolute file
    * offset `pos` (pcap.js:210-213: encKey[i % 256] over absolute
    * positions). In-place, returns `buf`.
    */
  private def xorAt(buf: Array[Byte], pos: Long, k: FileKeys): Array[Byte] = {
    var i = 0
    while (i < buf.length) {
      buf(i) = (buf(i) ^ k.dek(((pos + i) % 256).toInt)).toByte
      i += 1
    }
    buf
  }

  /** Decrypt bytes read from absolute file offset `pos`. */
  def decryptAt(buf: Array[Byte], pos: Long, k: FileKeys): Array[Byte] = k.encoding match {
    case "normal"      => buf
    case "aes-256-ctr" => ctrAt(buf, pos, k)
    case "xor-2048"    => xorAt(buf, pos, k)
    case other => throw new IllegalArgumentException(s"unknown pcap encoding $other")
  }

  /** Read `len` plaintext bytes at absolute offset `pos`: a ranged read
    * through any [[PcapStore.Blob]] (local file or chunked-object store),
    * then in-place decrypt at that offset — CTR/XOR seek math only
    * depends on `pos`.
    */
  def readSlice(blob: PcapStore.Blob, pos: Long, len: Int,
      k: FileKeys): Array[Byte] = {
    val b = blob.read(pos, len)
    if (!k.encrypted) b else decryptAt(b, pos, k)
  }

  /** Encrypt a whole plaintext stream as the writer would (one CTR stream
    * / xor pad from offset 0). Used by tests and by store writers.
    * Symmetric: both modes are XOR, so this is also whole-file decrypt.
    */
  def encrypt(plain: Array[Byte], k: FileKeys): Array[Byte] =
    decryptAt(plain.clone(), 0L, k)

  /** decryptPcap.js analogue: stream-decrypt an entire stored file. */
  def decryptFile(path: String, k: FileKeys): Array[Byte] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    decryptAt(bytes, 0L, k)
  }

  /** Fresh per-file material for a writing node (writer-simple.c:332-353:
    * 256-byte dek for xor-2048, 32-byte dek + 12-byte iv for CTR). The
    * caller persists `wrapDek(dek, kek)` + hex iv in its files index.
    */
  def newKeys(encoding: String, rng: java.security.SecureRandom = new java.security.SecureRandom()): FileKeys =
    encoding match {
      case "normal" => Normal
      case "aes-256-ctr" =>
        val dek = new Array[Byte](32); rng.nextBytes(dek)
        val iv = new Array[Byte](16); rng.nextBytes(iv)
        java.util.Arrays.fill(iv, 12, 16, 0.toByte)
        FileKeys(encoding, dek, iv)
      case "xor-2048" =>
        val dek = new Array[Byte](256); rng.nextBytes(dek)
        FileKeys(encoding, dek, Array.emptyByteArray)
      case other => throw new IllegalArgumentException(s"unknown pcap encoding $other")
    }
}
