package graft

import graft.operators.MultiModal._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Generated-input properties of the media decoders: the Y4M frame
  * hashes and the WAV energy hash against their reference formulas on
  * hand-built files (shuffled parameter tags, FRAME parameters, extra
  * RIFF chunks, full-range int16 samples), and truncation at any byte
  * offset getting one verdict from every decoder of a format. */
object MultiModalProps extends Properties("multimodal") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(1000)

  private val ascii = java.nio.charset.StandardCharsets.US_ASCII

  private def le(v: Int, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >> (8 * i)) & 0xff).toByte)

  /** A Cmono stream: its w×h luma planes, each after a FRAME marker
    * that may carry a parameter, behind a parameter line whose tags
    * come in a random order. */
  private val y4mGen: Gen[(Int, Int, Seq[Array[Byte]], Array[Byte])] = for {
    w <- Gen.choose(1, 23)
    h <- Gen.choose(1, 23)
    nf <- Gen.choose(0, 5)
    planes <- Gen.listOfN(nf, Gen.listOfN(w * h, Gen.choose(0, 255)))
    keys <- Gen.listOfN(6, Gen.long)
    params <- Gen.listOfN(nf, Gen.oneOf("", " Xa=1", " Ib"))
  } yield {
    val tags = Seq(s"W$w", s"H$h", "F30000:1001", "Cmono", "Ip", "A1:1")
      .zip(keys).sortBy(_._2).map(_._1)
    val bytes = planes.map(_.map(_.toByte).toArray)
    val body = bytes.zip(params).flatMap { case (pl, x) =>
      s"FRAME$x\n".getBytes(ascii) ++ pl
    }
    (w, h, bytes, s"YUV4MPEG2 ${tags.mkString(" ")}\n".getBytes(ascii) ++ body)
  }

  property("y4m frame hashes are dHash64 of each plane the sampler walks") =
    Prop.forAll(y4mGen) { case (w, h, planes, b) =>
      val info = decodeY4mSampled(b, 1)
      val hashes = decodeY4mFrameHashes(b)
      info.width == w && info.height == h &&
      info.nFrames == planes.length && hashes.length == planes.length &&
      info.sampleSums.toSeq == planes.map(_.map(_ & 0xff).map(_.toLong).sum) &&
      planes.indices.forall { f =>
        hashes(f) == dHash64(planes(f).map(v => (v & 0xff).toDouble), h, w)
      }
    }

  /** A PCM16 mono WAV of 65·m arbitrary samples, optionally with a
    * LIST chunk of odd or even size (so a pad byte) before data. */
  private val wavGen: Gen[(Array[Int], Array[Byte])] = for {
    m <- Gen.choose(1, 8)
    s <- Gen.listOfN(AudioWindows * m, Gen.choose(-32768, 32767))
    list <- Gen.option(Gen.choose(0, 7))
  } yield {
    val data = s.toArray.flatMap(v => le(v, 2))
    val extra = list.fold(Array.empty[Byte])(n =>
      "LIST".getBytes(ascii) ++ le(n, 4) ++ Array.fill(n + (n & 1))(7.toByte))
    val body = "WAVE".getBytes(ascii) ++
      "fmt ".getBytes(ascii) ++ le(16, 4) ++ le(1, 2) ++ le(1, 2) ++
      le(8000, 4) ++ le(16000, 4) ++ le(2, 2) ++ le(16, 2) ++
      extra ++ "data".getBytes(ascii) ++ le(data.length, 4) ++ data
    (s.toArray, "RIFF".getBytes(ascii) ++ le(body.length, 4) ++ body)
  }

  property("wav energy hash is the window-energy formula") =
    Prop.forAll(wavGen) { case (s, b) =>
      val m = s.length / AudioWindows
      val e = Array.tabulate(AudioWindows)(w =>
        (0 until m).map(j => s(w * m + j).toLong * s(w * m + j)).sum)
      val want = (0 until 64).foldLeft(0L)((bits, x) =>
        if (e(x + 1) > e(x)) bits | (1L << x) else bits)
      val info = decodeWav(b)
      wavEnergyHash64(b) == want &&
      info.nSamples == s.length && info.sampleSum == s.map(_.toLong).sum
    }

  /** The message of the IllegalArgumentException a decoder rejects
    * a file with, or None when it accepts the file. */
  private def rejection(f: => Any): Option[String] =
    try { f; None } catch { case e: IllegalArgumentException => Some(e.getMessage) }

  private def cut(b: Array[Byte]): Gen[Array[Byte]] =
    Gen.choose(0, b.length - 1).map(b.take)

  private val ids = Gen.choose(0L, 1000000L)

  property("a cut BMP gets one rejection from every BMP decoder") =
    Prop.forAll(ids, Gen.choose(1, 23), Gen.choose(1, 23)) { (id, w, h) =>
      Prop.forAll(cut(encodeBmpMixed(id, w, h, perturb = false))) { c =>
        val r = rejection(decodeBmp(c))
        r.nonEmpty && rejection(decodeBmpPixels(c)) == r && rejection(bmpDHash64(c)) == r
      }
    }

  property("a cut WAV gets one rejection from every WAV decoder") =
    Prop.forAll(ids, Gen.choose(1, 6)) { (id, m) =>
      Prop.forAll(cut(encodeWavMixed(id, m, perturb = false))) { c =>
        val r = rejection(decodeWav(c))
        r.nonEmpty && rejection(wavEnergyHash64(c)) == r
      }
    }

  property("a cut Y4M gets one verdict from both decoders: one rejection, or on a frame boundary the same shorter decode") =
    Prop.forAll(ids, Gen.choose(1, 23), Gen.choose(1, 23), Gen.choose(1, 5)) { (id, w, h, nf) =>
      val b = encodeY4mMixed(id, w, h, nf, perturb = true)
      val header = b.indexOf('\n'.toByte) + 1
      Prop.forAll(cut(b)) { c =>
        val r = rejection(decodeY4mSampled(c, 1))
        rejection(decodeY4mFrameHashes(c)) == r && (r.nonEmpty || {
          val k = decodeY4mSampled(c, 1).nFrames
          c.length == header + k * (6 + w * h) &&
            decodeY4mFrameHashes(c).toSeq == decodeY4mFrameHashes(b).toSeq.take(k) &&
            decodeY4mSampled(c, 1).sampleSums.toSeq ==
              decodeY4mSampled(b, 1).sampleSums.toSeq.take(k)
        })
      }
    }
}
