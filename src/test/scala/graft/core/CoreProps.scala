package graft.core

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties for the pure-Scala core (SURVEY.md §5 test
  * plan): codec round-trips over arbitrary inputs and structural
  * invariants of the difflib reimplementation.
  */
object CoreProps extends Properties("core") {

  property("gorilla round-trip is bit-exact") = forAll(
    Gen.listOf(Gen.oneOf(Gen.choose(-1e12, 1e12), Gen.oneOf(0.0, -0.0, 1.5, Double.NaN)))
  ) { xs =>
    val a = xs.toArray
    val dec = GorillaCodec.decode(GorillaCodec.encode(a))
    dec.length == a.length && a.indices.forall(i =>
      java.lang.Double.doubleToRawLongBits(dec(i)) == java.lang.Double.doubleToRawLongBits(a(i))
    )
  }

  property("delta-of-delta round-trip") = forAll(
    Gen.listOf(Gen.oneOf(Gen.choose(-1000000L, 1000000L), Gen.choose(0L, Long.MaxValue / 8)))
  ) { xs =>
    val a = xs.toArray
    DeltaCodec.decode(DeltaCodec.encode(a)).sameElements(a)
  }

  private val word = Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '-', 'ä', 'é'))).map(_.mkString)

  property("difflib opcodes partition both strings contiguously, in order") =
    forAll(word, word) { (a, b) =>
      val ops = Difflib.opcodes(a, b)
      val aLen = Difflib.codePoints(a).length
      val bLen = Difflib.codePoints(b).length
      val iOk = ops.foldLeft((true, 0)) { case ((ok, pos), op) => (ok && op.i1 == pos, op.i2) }
      val jOk = ops.foldLeft((true, 0)) { case ((ok, pos), op) => (ok && op.j1 == pos, op.j2) }
      val endOk =
        if (ops.isEmpty) aLen == 0 && bLen == 0
        else ops.last.i2 == aLen && ops.last.j2 == bLen
      iOk._1 && jOk._1 && endOk
    }

  property("difflib equal segments really are equal; swapper replay reconstructs") =
    forAll(word, word) { (a, b) =>
      val aCp = Difflib.codePoints(a)
      val bCp = Difflib.codePoints(b)
      val equalsOk = Difflib.opcodes(a, b).filter(_.tag == "equal").forall { op =>
        (0 until (op.i2 - op.i1)).forall(k => aCp(op.i1 + k) == bCp(op.j1 + k))
      }
      val swapped = ValueModel.mine(a, b)("swapper")
      equalsOk && ValueModel.applyTransform(a, swapped) == b
    }
}
