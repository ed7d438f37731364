package graft.kql

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, MethodVisitor, Opcodes}
import org.apache.xbean.asm9.commons.CodeSizeEvaluator
import org.scalatest.funsuite.AnyFunSuite

/** HotSpot never JIT-compiles a method whose bytecode exceeds
  * `HugeMethodLimit` (8,000 bytes; `DontCompileHugeMethods` is on by
  * default), so a KQL translation path that grows past it runs in the
  * interpreter on every query. Measured with the ASM that Spark shades. */
class KqlMethodSizeSpec extends AnyFunSuite {
  test("no KqlParser method but the static initializer reaches 8,000 bytecode bytes") {
    val sizes = scala.collection.mutable.Map.empty[String, Int]
    val in = getClass.getResourceAsStream("/graft/kql/KqlParser$.class")
    try {
      new ClassReader(in).accept(new ClassVisitor(Opcodes.ASM9) {
        override def visitMethod(access: Int, name: String, desc: String,
            signature: String, exceptions: Array[String]): MethodVisitor =
          new CodeSizeEvaluator(null) {
            override def visitEnd(): Unit = sizes(name) = getMaxSize
          }
      }, 0)
    } finally in.close()
    // the class read is the parser: its translator is among the methods
    assert(sizes.contains("scalar") && sizes.contains("pipeline"))
    // <clinit> runs once; it builds the object's tables (scalarFns)
    val huge = sizes.filter { case (m, n) => m != "<clinit>" && n >= 8000 }
    assert(huge.isEmpty, huge.toSeq.sortBy(-_._2).mkString(", "))
  }
}
