package graft

import graft.operators.MultiModal._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Byte identity of the six media encoders: one SHA-256 per encoder
  * over its outputs on a fixed parameter grid (odd widths, w/h 16–23,
  * 1–5 frames, both `perturb` values), fed in grid order. A changed
  * header field, row pad, sample or pixel formula changes the digest. */
class MultiModalGoldenSpec extends AnyFunSuite with Matchers {

  private def sha256(outs: Seq[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    outs.foreach(md.update)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private val ids = Seq(0L, 7L, 255L, 123457L)
  private val sides = 16 to 23
  private val widths = (1 to 9 by 2) ++ sides
  private val frames = 1 to 5
  private val perturbs = Seq(false, true)

  test("encodeBmp digest") {
    sha256(for (id <- ids; w <- widths; h <- Seq(1, 2) ++ sides)
      yield encodeBmp(id, w, h)) shouldBe
      "5e2577cda2f9c2fc5c832dd64809fb6a80b0fa6b70a7e1bb4a071d9d5197e06b"
  }

  test("encodeBmpMixed digest") {
    sha256(for (id <- ids; w <- widths; h <- sides; p <- perturbs)
      yield encodeBmpMixed(id, w, h, p)) shouldBe
      "96030ea937a699683861d70171a28fe9eb2c81899b885569a99ad252ee75a658"
  }

  test("encodeWav digest") {
    sha256(for (id <- ids; rate <- Seq(8000, 44100); n <- Seq(0, 1, 2, 33, 260))
      yield encodeWav(id, rate, n)) shouldBe
      "78d8fdb95c716783d37e4dafeff55950ee435724d6a1cd98758ea67ce468e661"
  }

  test("encodeWavMixed digest") {
    sha256(for (id <- ids; m <- 1 to 6; p <- perturbs)
      yield encodeWavMixed(id, m, p)) shouldBe
      "7315b6492cbeb2cc2b35c9467bf4b17a1b7df16d1d18e879917144842a6bb05c"
  }

  test("encodeY4m digest") {
    sha256(for (id <- ids; w <- widths; h <- sides; nf <- frames)
      yield encodeY4m(id, w, h, nf)) shouldBe
      "587cd2be79804598376e52ab7fe2694882bc736e39f74243549bd7e72efe0c7d"
  }

  test("encodeY4mMixed digest") {
    sha256(for (id <- ids; w <- widths; h <- sides; nf <- frames; p <- perturbs)
      yield encodeY4mMixed(id, w, h, nf, p)) shouldBe
      "1a2c9fba64ffa9bbc245585fffecd972c117ec6c055bd9ad1230ff85f4a78d54"
  }
}
