package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins the shingle, MinHash, set, winnowing, token-window, DSIR and
  * boilerplate-fingerprint kernels on input the ASCII-prose oracle corpus
  * never reaches: empty and whitespace-only strings, strings shorter than
  * the shingle size, `\u000B` and `\f`, accented, CJK and supplementary
  * code points. Each entry point's outputs over the whole corpus are
  * rendered to one canonical string and compared by sha256 against the
  * values these kernels gave before their building blocks were shared, so
  * any drift in hashing, normalization, tokenization or joining shows.
  */
class KernelEdgeCaseSpec extends AnyFunSuite {

  private val corpus = Seq(
    "",
    "   ",
    " \t\n\r ",
    "abc",
    "a b",
    "x\u000By\fz w\u000B\fv  u",
    "line one\u000Bline two\fline three\nline four",
    "Ünïcödé façade naïve — résumé, déjà vu déjà vu",
    "中文文本测试，没有空格。日本語のテキストです",
    "Hello World　全角 space 中文 mixed 123 ABC",
    "𝒜𝒷𝒸 😀 text 𠀀𠀁 more text",
    "The cat sat on the mat. The cat sat on the mat again, and again!",
    "the quick brown fox jumps over the lazy dog the quick brown fox jumps")

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private def longs(a: Array[Long]): String = a.mkString("[", ",", "]")
  private def strings(a: ArrayData): String =
    a.toArray[UTF8String](StringType).mkString("[", "\u0001", "]")
  private def chunks(a: ArrayData): String =
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      s"${r.getLong(0)}:${r.getUTF8String(1)}"
    }.mkString("[", "\u0001", "]")

  private def digest(render: String => String): String =
    sha256(corpus.map(render).mkString("\u0002"))

  private def u(t: String) = UTF8String.fromString(t)

  private val expected: Seq[(String, String, String => String)] = Seq(
    ("shingleHashes k5",
      "5a7fd564fe41dc95c990d553d4e803fdd0facb0f4a5abbefc3637439fe607e8d",
      t => longs(TextAlgo.shingleHashes(t, 5))),
    ("shingleHashes k1",
      "b624f9515cd8b2a7782d30e3317330116f08eb3a04e63d3a242ad55ba4f16675",
      t => longs(TextAlgo.shingleHashes(t, 1))),
    ("minhashSig",
      "2462eaa309d1b40558dd4289caeff54fba2944b9e4e12a41f42d94a5996b3037",
      t => longs(TextAlgo.minhashSig(t, 5, 16, 42L))),
    ("shingleHashSet",
      "f3ab3027aaf141cd6a0d5fbc275ce0edcf625d71ebfafa1889802c28e0cbb67f",
      t => longs(TextAlgo.shingleHashSet(t, 5))),
    ("winnowing",
      "527e98ae0b688ec9d81a78ce257daac47ab59fa8c0afeacbc47814289a2c27c9",
      t => longs(TextAlgo.winnowing(t, 5, 4))),
    ("portableShingleHashes",
      "5afbe7fdc3040386d0b0f61629dfde720b9b89514c5792fdb31448ba1c68c866",
      t => longs(TextAlgo.portableShingleHashes(t, 5))),
    ("minhashPortableSig",
      "e55fa86be97b36d741c8bd17009f111e43a79f2e927ee20eb7354378eb6343da",
      t => longs(TextAlgo.minhashPortableSig(t, 5, 16, 42L))),
    ("shingleHashSetPortable",
      "d4b044ec4f9e4c1bc0a5db92c98dc402d224eac81ced784b1396e3b7e25c5efe",
      t => longs(TextAlgo.shingleHashSetPortable(t, 5))),
    ("winnowingPortable",
      "28d283142a573d4d23fcd505187200101a125783ac4c2a05272ec65430254d56",
      t => longs(TextAlgo.winnowingPortable(t, 5, 4))),
    ("winnowingPortable w1",
      "8a320523e9032b03d6e7fdc0a554f6a2bc953d24b5e24864b5677aaaffc6e5b4",
      t => longs(TextAlgo.winnowingPortable(t, 3, 1))),
    ("simhash60Portable",
      "975398f7e5b6a8e2ebf247159af28cd37bcb50f6810b4e815aa1abb0b40ded2f",
      t => String.valueOf(TextAlgo.simhash60Portable(t))),
    ("dupNgramFraction",
      "81bd9fe5e0c430a0d9bcf1ae5d306237b3b5c8b52c203d7ab7df19148bf5efe2",
      t => s"${TextAlgo.dupNgramFraction(u(t), 1)};${TextAlgo.dupNgramFraction(u(t), 2)}"),
    ("wordNgrams ascii",
      "139c577a2767e892e28fcf1ce5803b7319c51a1129bf714f1f0001dbfbc7b3b3",
      t => strings(TextAlgo.wordNgrams(u(t), 2, unicode = false))),
    ("wordNgrams unicode",
      "d386c4ac1857a1787f0b02e1a5adbb91d11ecfc511400c3176f971d3eb577007",
      t => strings(TextAlgo.wordNgrams(u(t), 2, unicode = true))),
    ("wordChunks",
      "5be3fe3777b9f7827628226fd3e4c4be3c1b05338ad5d7029c74d944b0fca368",
      t => strings(TextAlgo.wordChunks(u(t), 3))),
    ("wordNgramStream ascii",
      "6f499951b99ae59ca5a98b17acb7a2c5573ee06a013e73369709eff52fc313a1",
      t => strings(TextAlgo.wordNgramStream(u(t), 2, unicode = false)) +
        strings(TextAlgo.wordNgramStream(u(t), 3, unicode = false))),
    ("wordNgramStream unicode",
      "07c4a0831cbc84dbcf8ab93d458986e1566b6545638c76d8bf7552a24e532e39",
      t => strings(TextAlgo.wordNgramStream(u(t), 2, unicode = true)) +
        strings(TextAlgo.wordNgramStream(u(t), 3, unicode = true))),
    ("passageChunks ascii",
      "65ea5ffc10000efcdf8f3eb1b54ab04bc7cf49730b5f904bdc34fca235e0705c",
      t => chunks(TextAlgo.passageChunks(u(t), 4, 2, unicode = false))),
    ("passageChunks unicode",
      "9bf21d2000ac06e5d9af2a64dfff8eb38c806061ec284315cf0b986fc62a0ba5",
      t => chunks(TextAlgo.passageChunks(u(t), 4, 2, unicode = true))),
    ("dsirBuckets",
      "ba72b8b12c057c6b400dd3d42af02055e8e2066b13f908942d1eb1ff997cdc5b",
      t => longs(TextAlgo.dsirBuckets(u(t), 1000).toLongArray())),
    ("Boilerplate.lineFp60",
      "d11caf9ba9759cb2adf25f351ab2e6f3b7c080a5f7eb81b0ee9e4a89627359e7",
      t => graft.dedup.Boilerplate.lineFp60(t).toString))

  expected.foreach { case (name, want, render) =>
    test(s"$name is unchanged on the edge-case corpus") {
      assert(digest(render) === want)
    }
  }
}
